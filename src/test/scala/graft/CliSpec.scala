package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.model.PageGen
import graft.tools.KgCli

class CliSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("kgcli").toString
    val cfg = PageGen.Config(nPages = 120)
    val t = Pipeline.run(spark, PageGen.pages(spark, cfg), cfg.nPersons)
    Pipeline.materialize(spark, t, d)
    d
  }

  test("lookup / list verbs answer over materialized tables") {
    KgCli.run(spark, dir, "list-pages", Nil).count() should be > 100L
    val entities = KgCli.run(spark, dir, "list-entities", Nil)
    entities.count() should be > 0L
    val hosts = KgCli.run(spark, dir, "lookup", Seq("Host", "^host0\\."))
    hosts.count() should be > 0L
    hosts.columns should contain("code")
  }

  test("code / edges / slice verbs") {
    val someId = KgCli.run(spark, dir, "list-entities", Nil).head().getLong(0)
    val code = KgCli.run(spark, dir, "code", Seq(someId.toString))
    code.count() shouldBe 1L
    KgCli.run(spark, dir, "edges", Seq("LINKS_TO")).count() should be > 0L
    // slice from a mention reaches at least its entity node
    val m = KgCli.run(spark, dir, "lookup", Seq("Mention", ".*")).head().getLong(0)
    val sliced = KgCli.run(spark, dir, "slice", Seq("forward", "2", m.toString))
    sliced.count() should be >= 1L
    an[IllegalArgumentException] should be thrownBy
      KgCli.run(spark, dir, "frobnicate", Nil)
  }

  test("location verb resolves mentions to url:sent:tokStart:tokEnd spans") {
    val m = KgCli.run(spark, dir, "lookup", Seq("Mention", ".*")).head().getLong(0)
    val row = KgCli.run(spark, dir, "location", Seq(m.toString)).head()
    row.getLong(0) shouldBe m
    // the span triple comes from the node's loc prop, not the childNum
    // fallback — exactly four ':'-separated tail fields
    row.getString(3) should fullyMatch regex """.+:\d+:\d+:\d+"""
    // a spanless node (Host) falls back to "?:childNum"
    val h = KgCli.run(spark, dir, "lookup", Seq("Host", ".*")).head().getLong(0)
    val hrow = KgCli.run(spark, dir, "location", Seq(h.toString)).head()
    hrow.getString(3) shouldBe "?:0"
  }

  test("export-ref round-trips through import-ref bit-exactly") {
    val out = java.nio.file.Files.createTempDirectory("kgcli-export").toString
    val d2 = java.nio.file.Files.createTempDirectory("kgcli-import").toString
    try {
      KgCli.run(spark, dir, "export-ref", Seq(out)).count() shouldBe 2L
      val counters = KgCli.run(spark, d2, "import-ref",
        Seq(s"$out/nodes.csv", s"$out/edges.csv")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counters("danglingEdges") shouldBe 0L
      // name-based projection: the imported tables' physical column ORDER
      // differs (semi-join using-columns move to the front)
      def nodeSet(d: String) =
        graft.store.TableIO.read(spark, s"$d/nodes")
          .select("id", "kind", "code", "pageId", "childNum", "props")
          .collect().map { r =>
            (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getInt(4),
              r.getMap[String, String](5).toSeq.sortBy(_._1).mkString(","))
          }.sorted.toSeq
      def edgeSet(d: String) =
        graft.store.TableIO.read(spark, s"$d/edges")
          .select("src", "dst", "kind", "variable", "label")
          .collect().map { r =>
            (r.getLong(0), r.getLong(1), r.getString(2),
              Option(r.getString(3)).getOrElse(""), Option(r.getString(4)).getOrElse(""))
          }.sorted.toSeq
      nodeSet(d2) shouldBe nodeSet(dir)
      edgeSet(d2) shouldBe edgeSet(dir)
    } finally {
      graft.store.TableIO.deleteRecursively(out)
      graft.store.TableIO.deleteRecursively(d2)
    }
  }

  test("rank / triangles analytics verbs") {
    val top = KgCli.run(spark, dir, "rank", Seq("5")).collect()
    top.length shouldBe 5
    // descending salience, strictly positive integer masses
    top.map(_.getLong(1)).toSeq shouldBe top.map(_.getLong(1)).sortBy(-_).toSeq
    top.foreach(_.getLong(1) should be > 0L)
    val tri = KgCli.run(spark, dir, "triangles", Nil).collect()
    tri.length should be > 0
    tri.foreach { r =>
      val deg = r.getLong(1)
      r.getLong(2) shouldBe deg * (deg - 1) / 2
      r.getLong(3) should be >= 0L
    }
    val core = KgCli.run(spark, dir, "kcore", Seq("2")).collect()
    core.length should be > 0
    core.foreach(_.getLong(1) should be >= 2L) // in-core degree >= k
  }

  test("sameas verb: candidate pairs strongest-overlap first") {
    val rows = KgCli.run(spark, dir, "sameas", Seq("10")).collect()
    rows.length should be > 0
    rows.length should be <= 10
    // (u, v, inter, du, dv): ordered pairs, descending witness count
    rows.foreach { r => r.getLong(0) should be < r.getLong(1) }
    rows.map(_.getLong(2)).toSeq shouldBe rows.map(_.getLong(2)).sortBy(-_).toSeq
    rows.foreach { r =>
      r.getLong(2) should be >= 2L // minInter default
      r.getLong(3) should be >= 1L
      r.getLong(4) should be >= 1L
    }
  }

  test("path verb: hop rows from an entity to a neighbor; empty when unreachable") {
    // pick a real edge from the materialized triples: guaranteed 1-hop path
    val t = graft.Incremental.readTriples(spark, dir)
      .filter(col("obj") >= 0).select("subj", "obj").head()
    val (a, b) = (t.getLong(0), t.getLong(1))
    val rows = KgCli.run(spark, dir, "path", Seq(a.toString, b.toString)).collect()
    rows.map(_.getLong(1)).headOption shouldBe Some(a)
    rows.map(_.getLong(1)).lastOption shouldBe Some(b)
    rows.map(_.getLong(0)).toSeq shouldBe rows.indices.map(_.toLong)
    // unreachable: a fresh id that is not a node at all → empty frame
    KgCli.run(spark, dir, "path", Seq(a.toString, "999999999")).collect() shouldBe empty
  }

  /** The bundle of graph queries a serving round runs, then the other graph
    * verbs, with fixed arguments: (verb args, pins its result may hold, job
    * budget). The budgets are the counts this fixture gives (they repeat
    * exactly for a fixed input); DataFrame-loop kernels took 28 (slice), 65
    * (rank) and 24 (path) jobs a call here, and before their pins counted
    * themselves hits took 109, scc 90, bowtie 111 and kcore 20. */
  private lazy val graphBundle: Seq[(Seq[String], Int, Int)] = {
    val link = graft.Incremental.readEdges(spark, dir).filter(col("kind") === "LINKS_TO")
      .select("src", "dst").orderBy("src", "dst").head()
    val e = graft.query.GraphAnalytics.entityEdges(graft.Incremental.readTriples(spark, dir))
    val twoHop = e.as("x").join(e.as("y"), col("x.dst") === col("y.src"))
      .filter(col("x.src") =!= col("y.dst"))
      .select(col("x.src"), col("y.dst")).orderBy("src", "dst").head()
    Seq(
      (Seq("slice", "forward", "3", link.getLong(0).toString), 1, SliceJobs),
      (Seq("slice", "backward", "3", link.getLong(1).toString), 1, SliceJobs),
      (Seq("coref", link.getLong(0).toString), 0, Int.MaxValue),
      (Seq("path", twoHop.getLong(0).toString, twoHop.getLong(1).toString, "8"), 0, PathJobs),
      (Seq("rank", "10"), 1, RankJobs),
      (Seq("sameas", "10"), 1, 11),
      (Seq("hits", "10"), 1, 108),
      (Seq("communities"), 1, 37),
      (Seq("scc"), 1, 78),
      (Seq("bowtie"), 1, 99),
      (Seq("kcore", "2"), 1, 17),
      (Seq("triangles"), 1, 17),
      (Seq("features", "MENTIONS"), 1, 16),
      // its result reads the features' last round and the last k-means round
      (Seq("cluster", "4"), 2, 43))
  }
  private val SliceJobs = 11
  private val PathJobs = 12
  private val RankJobs = 17

  test("graph verbs release every pin but the one their result reads") {
    // GC also reclaims unreleased pins, so a leak shows as growth only
    // until a collection; explicit release keeps the bound always
    val sc = spark.sparkContext
    graphBundle.foreach { case (q, ownPins, _) =>
      val before = sc.getPersistentRDDs.size
      (1 to 2).foreach(_ => KgCli.run(spark, dir, q.head, q.tail).collect())
      withClue(q.mkString(" ")) {
        (sc.getPersistentRDDs.size - before) should be <= 2 * ownPins
      }
    }
  }

  test("graph verbs stay within their job budgets") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try graphBundle.foreach { case (q, _, budget) =>
      KgCli.run(spark, dir, q.head, q.tail).collect() // first call warms the table reads
      org.apache.spark.graft.BusDrain(sc)
      jobs.set(0)
      KgCli.run(spark, dir, q.head, q.tail).collect()
      org.apache.spark.graft.BusDrain(sc)
      withClue(q.mkString(" ")) { jobs.get should be <= budget }
    } finally sc.removeSparkListener(listener)
  }

  test("scc verb: non-trivial components, largest first") {
    val rows = KgCli.run(spark, dir, "scc", Nil).collect()
    // only components with >1 member; sizes descending
    rows.foreach(_.getLong(1) should be > 1L)
    rows.map(_.getLong(1)).toSeq shouldBe rows.map(_.getLong(1)).sortBy(-_).toSeq
  }

  test("bowtie verb: region census covers every entity exactly once") {
    val rows = KgCli.run(spark, dir, "bowtie", Nil).collect()
    val regions = rows.map(_.getString(0)).toSet
    regions should contain("CORE")
    regions.subsetOf(Set("CORE", "IN", "OUT", "OTHER")) shouldBe true
    rows.map(_.getLong(1)).foreach(_ should be > 0L)
  }

  test("hits / communities analytics verbs") {
    val top = KgCli.run(spark, dir, "hits", Seq("5")).collect()
    top.length shouldBe 5
    // descending authority, non-negative integer scores
    top.map(_.getLong(2)).toSeq shouldBe top.map(_.getLong(2)).sortBy(-_).toSeq
    top.head.getLong(2) should be > 0L
    val comms = KgCli.run(spark, dir, "communities", Nil).collect()
    comms.length should be > 0
    // sizes descending, every community non-empty
    comms.map(_.getLong(1)).toSeq shouldBe comms.map(_.getLong(1)).sortBy(-_).toSeq
    comms.foreach(_.getLong(1) should be > 0L)
  }

  test("coref / tag / list-tags verbs") {
    // coref: a mention expands to all co-referent mentions of its entity
    val m = KgCli.run(spark, dir, "lookup", Seq("Mention", ".*"))
      .filter(col("props").getItem("entityId") =!= "-1").head().getLong(0)
    val co = KgCli.run(spark, dir, "coref", Seq(m.toString))
    co.count() should be >= 1L
    co.filter(col("id") === m).count() shouldBe 1L // includes the seed itself
    // tag twice, second tag merges without duplicating
    KgCli.run(spark, dir, "tag", Seq("suspect", m.toString)).count() shouldBe 1L
    KgCli.run(spark, dir, "tag", Seq("reviewed", m.toString))
    val tags = KgCli.run(spark, dir, "list-tags", Nil).collect()
    tags.map(r => r.getString(1)).sorted shouldBe Array("reviewed", "suspect")
  }

  test("untag / hide / unhide verbs; hidden nodes vanish from lookup") {
    val host = KgCli.run(spark, dir, "lookup", Seq("Host", "^host0\\.")).head().getLong(0)
    // hide: the node disappears from lookup but stays in the table
    KgCli.run(spark, dir, "hide", Seq(host.toString))
    KgCli.run(spark, dir, "lookup", Seq("Host", "^host0\\."))
      .filter(col("id") === host).count() shouldBe 0L
    KgCli.run(spark, dir, "list-tags", Nil)
      .filter(col("tag") === "hidden").count() shouldBe 1L
    // unhide restores it
    KgCli.run(spark, dir, "unhide", Seq(host.toString))
    KgCli.run(spark, dir, "lookup", Seq("Host", "^host0\\."))
      .filter(col("id") === host).count() shouldBe 1L
    // untag removes exactly the named pair
    KgCli.run(spark, dir, "tag", Seq("a", host.toString))
    KgCli.run(spark, dir, "tag", Seq("b", host.toString))
    KgCli.run(spark, dir, "untag", Seq("a", host.toString))
    KgCli.run(spark, dir, "list-tags", Nil)
      .filter(col("id") === host).collect().map(_.getString(1)) shouldBe Array("b")
  }

  test("features verb: sparse label:count lines per page") {
    val f = KgCli.run(spark, dir, "features", Seq("MENTIONS"))
    f.count() should be > 100L
    val line = f.head().getString(1)
    line should fullyMatch regex """(\d+:\d+)( \d+:\d+)*"""
  }

  test("knn verb: k nearest pages by hashed-feature cosine, self excluded") {
    val pid = KgCli.run(spark, dir, "list-pages", Nil).head().getLong(0)
    val nn = KgCli.run(spark, dir, "knn", Seq("5", pid.toString)).collect()
    nn.length shouldBe 5
    nn.map(_.getInt(1)).toSeq shouldBe (1 to 5)
    nn.foreach { r =>
      r.getLong(0) shouldBe pid
      r.getLong(2) should not be pid
      r.getDouble(3) should (be >= -1.0001 and be <= 1.0001)
    }
    // cosine non-increasing down the ranks
    val cos = nn.map(_.getDouble(3)).toSeq
    cos.zip(cos.tail).foreach { case (a, b) => a should be >= b }
  }

  test("cluster verb: every page assigned to one of n clusters") {
    val pages = KgCli.run(spark, dir, "list-pages", Nil).count()
    val cl = KgCli.run(spark, dir, "cluster", Seq("4")).collect()
    cl.length shouldBe pages
    val ids = cl.map(_.getInt(1)).toSet
    ids.subsetOf((0 until 4).toSet) shouldBe true
    ids.size should be > 1 // synthetic pages are not all identical
    // deterministic: same input, same assignment
    KgCli.run(spark, dir, "cluster", Seq("4")).collect() shouldBe cl
  }

  test("plot verbs emit well-formed DOT") {
    val pid = KgCli.run(spark, dir, "list-pages", Nil).head().getLong(0)
    val dot = KgCli.run(spark, dir, "plot", Seq(pid.toString)).head().getString(0)
    dot should startWith("digraph g {")
    dot should endWith("}")
    dot should include("NEXT_MENTION")
    // every statement must PARSE as DOT, not just string-match: ids are
    // signed 64-bit hashes (~half negative) and n-123… is only legal
    // quoted — an unquoted emit once shipped Graphviz-rejected output
    val stmt = """  ("n-?\d+") (\[|-> ("n-?\d+") \[)label="[^"]*"\];""".r
    val body = dot.split("\n").drop(1).dropRight(1)
    body should not be empty
    body.foreach { line => withClue(s"unparseable DOT statement: $line") {
      stmt.matches(line) shouldBe true
    }}
    val m = KgCli.run(spark, dir, "lookup", Seq("Mention", ".*")).head().getLong(0)
    val dot2 = KgCli.run(spark, dir, "plot-slice", Seq("2", m.toString)).head().getString(0)
    dot2 should startWith("digraph g {")
    dot2 should include(s""""n$m" """)
  }

  test("transform verb: arbitrary SQL projection over an id list") {
    val ids = KgCli.run(spark, dir, "list-entities", Nil)
      .limit(3).collect().map(_.getLong(0))
    val r = KgCli.run(spark, dir, "transform",
      "upper(kind) || ':' || code" +: ids.map(_.toString))
      .collect().map(x => (x.getLong(0), x.getString(1)))
    r.length shouldBe ids.length
    r.foreach { case (_, v) => v should startWith("ENTITY:") }
    // expressions see the full node row (props included)
    KgCli.run(spark, dir, "transform", Seq("childNum * 2", ids.head.toString))
      .head().getInt(1) shouldBe 0
  }

  test("regex verb: discriminating regex matches exactly the nodes' codes") {
    val hosts = KgCli.run(spark, dir, "lookup", Seq("Host", ".*"))
      .limit(4).collect()
    val ids = hosts.map(_.getLong(0))
    val codes = hosts.map(_.getString(2))
    val rx = KgCli.run(spark, dir, "regex", ids.map(_.toString)).head().getString(0)
    codes.foreach(c => withClue(s"$rx should match $c") {
      c.matches(rx) shouldBe true
    })
    "host-that-does-not-exist.example".matches(rx) shouldBe false
    // the regex is lookup-safe: feeding it back returns exactly those nodes
    KgCli.run(spark, dir, "lookup", Seq("Host", rx)).count() shouldBe ids.length.toLong
  }

  test("astlabel verb: plot relabeled with kinds only") {
    val pid = KgCli.run(spark, dir, "list-pages", Nil).head().getLong(0)
    val dot = KgCli.run(spark, dir, "astlabel", Seq(pid.toString)).head().getString(0)
    dot should startWith("digraph g {")
    // every node label is a bare kind — no ': code' tail anywhere
    val label = """label="([^"]*)"""".r
    val labels = label.findAllMatchIn(dot).map(_.group(1)).toSeq
    labels should not be empty
    val kinds = Set("Page", "Host", "Domain", "Mention", "Entity", "Triple",
      "MENTIONS", "NEXT_MENTION", "SAME_SENTENCE", "LINKS_TO", "SUBJ", "OBJ")
    labels.foreach(l => kinds should contain(l))
  }

  test("apiembed verb: API-symbol-bag knn, self excluded, ranks dense") {
    val pid = KgCli.run(spark, dir, "list-pages", Nil).head().getLong(0)
    val nn = KgCli.run(spark, dir, "apiembed", Seq("5", pid.toString)).collect()
    nn.length shouldBe 5
    nn.map(_.getInt(1)).toSeq shouldBe (1 to 5)
    nn.foreach { r =>
      r.getLong(0) shouldBe pid
      r.getLong(2) should not be pid
    }
    // deterministic
    KgCli.run(spark, dir, "apiembed", Seq("5", pid.toString)).collect() shouldBe nn
  }

  test("stream-apiembed verb: streamed embeddings equal the batch bag path") {
    // four parquet files -> four micro-batches (maxFilesPerTrigger=1); the
    // SAME corpus the fixture's tables were built from, so the streamed
    // embeddings must equal bags derived from the materialized nodes table
    val cfg = PageGen.Config(nPages = 120)
    val pagesDir = java.nio.file.Files.createTempDirectory("kgcli-streampages").toString
    PageGen.pages(spark, cfg).repartition(4).write.mode("overwrite").parquet(pagesDir)
    val streamed = KgCli.run(spark, dir, "stream-apiembed", Seq(pagesDir))
    import graft.model.Schema.{NodeKinds => NK}
    val nodes = graft.store.TableIO.read(spark, s"$dir/nodes")
    val bags = nodes
      .filter(col("kind").isin(NK.Mention, NK.TripleN) && col("pageId") =!= 0)
      .groupBy(col("pageId"), xxhash64(col("code")).as("label"))
      .agg(count(lit(1)).as("count"))
    val batch = graft.ops.Similarity.featureHashEmbedding(bags).orderBy("id")
    val s = streamed.collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val b = batch.collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    s.length shouldBe b.length
    s.toMap shouldBe b.toMap
    graft.store.TableIO.deleteRecursively(pagesDir)
  }

  test("ingest / snapshots / compact / expire: the crawl-append admin surface") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("kgcli-ingest").toString
    val base = PageGen.Config(nPages = 60)
    val t = Pipeline.run(spark, PageGen.pages(spark, base), base.nPersons)
    Pipeline.materialize(spark, t, d)
    t.flatEnc.unpersist(false); t.components.unpersist(false)
    val preIngest = graft.store.TableIO.read(spark, s"$d/triples")
      .collect().map(_.toString).sorted.toSeq
    // the crawl batch arrives as a pages parquet (the production shape)
    val full = PageGen.Config(nPages = 80)
    spark.range(60L, 80L).map(i => PageGen.page(full, i))
      .write.parquet(s"$d-batch")
    val st = KgCli.run(spark, d, "ingest", Seq(s"$d-batch"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    st("pages") should be > 0L
    st("skippedTables") shouldBe 0L
    // the three appended tables carry history (base build + append);
    // components is snapshot-SWAPPED — a fresh table, one snapshot
    val snaps = KgCli.run(spark, d, "snapshots", Nil)
    snaps.select("table").distinct().count() shouldBe 6L
    snaps.count() should be >= 7L
    // the append fragmented buckets -> compact collapses them
    val compacted = KgCli.run(spark, d, "compact", Nil)
      .collect().map(_.getLong(1)).sum
    compacted should be > 0L
    // retention: head only
    val left = KgCli.run(spark, d, "expire", Seq("0")).collect()
    left.foreach(_.getLong(1) shouldBe 1L)
    graft.store.TableIO.read(spark, s"$d/triples").count() should be > 0L
    // takedown of the just-ingested batch via the remove verb: the build
    // must round-trip bit-exactly to its pre-ingest triples (remove ≡
    // rebuild on the remaining corpus = the original base build)
    spark.range(0L, 60L).map(i => PageGen.page(base, i)).write.parquet(s"$d-rest")
    val rm = KgCli.run(spark, d, "remove", Seq(s"$d-batch", s"$d-rest"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rm("pages") should be > 0L
    graft.store.TableIO.read(spark, s"$d/triples")
      .collect().map(_.toString).sorted.toSeq shouldBe preIngest
    graft.store.TableIO.deleteRecursively(d)
    graft.store.TableIO.deleteRecursively(s"$d-batch")
    graft.store.TableIO.deleteRecursively(s"$d-rest")
  }

  test("TSV rendering escapes tabs/newlines and folds maps") {
    import spark.implicits._
    val df = Seq((1L, "a\tb\nc", Map("k" -> "v", "a" -> "b"))).toDF("id", "code", "props")
    val tsv = KgCli.toTsv(df)
    tsv.split("\n")(0) shouldBe "id\tcode\tprops"
    tsv.split("\n")(1) shouldBe "1\ta\\tb\\nc\ta=b,k=v"
  }
}

class StringSetRegexSpec extends AnyFunSuite with Matchers {
  // NOT imported as `compile` — scalatest's Matchers owns that word
  private def rxOf(ss: Seq[String]): String = graft.util.StringSetRegex.compile(ss)

  test("matches exactly the input set, folds shared prefixes") {
    val rx = rxOf(Seq("foo", "fob", "bar"))
    Seq("foo", "fob", "bar").foreach(_.matches(rx) shouldBe true)
    Seq("fo", "fooo", "baz", "", "xbar").foreach(_.matches(rx) shouldBe false)
    rx should include("fo[") // trie fold: ONE shared-prefix branch + char class
    rx should not include "foo|fob" // not a flat alternation
  }

  test("prefix-of-another and empty-string members") {
    val rx = rxOf(Seq("ab", "abc"))
    "ab".matches(rx) shouldBe true
    "abc".matches(rx) shouldBe true
    "abcd".matches(rx) shouldBe false
    val rx2 = rxOf(Seq("", "a"))
    "".matches(rx2) shouldBe true
    "a".matches(rx2) shouldBe true
    "b".matches(rx2) shouldBe false
  }

  test("metacharacters are escaped, char classes escape their own specials") {
    val rx = rxOf(Seq("a.b", "a+b"))
    "a.b".matches(rx) shouldBe true
    "a+b".matches(rx) shouldBe true
    "axb".matches(rx) shouldBe false
    val rx2 = rxOf(Seq("x]", "x^", "x-"))
    Seq("x]", "x^", "x-").foreach(_.matches(rx2) shouldBe true)
    "x_".matches(rx2) shouldBe false
    an[IllegalArgumentException] should be thrownBy rxOf(Nil)
  }
}
