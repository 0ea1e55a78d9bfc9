package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.model._

/** End-to-end gate (mirrors the reference's gremtest layer, SURVEY.md §5):
  * the distributed pipeline must reproduce the single-threaded oracle at
  * P/R ≥ 0.95 (BASELINE.json) — we assert exact equality, the stronger
  * property, since both paths share the pure per-page functions and the
  * gate is really testing the distributed plumbing. */
class PipelineSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  val cfg = PageGen.Config(nPages = 400)

  lazy val oracle = Oracle.run(cfg)
  lazy val tables = Pipeline.run(spark, PageGen.pages(spark, cfg), cfg.nPersons)

  test("triples: P/R >= 0.95 vs single-threaded oracle (exact match expected)") {
    val got = tables.triples.collect().map { r =>
      (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(3)).orNull, r.getString(4))
    }.toSet
    val (p, r) = Oracle.pr(got, oracle.triples)
    withClue(s"precision=$p recall=$r got=${got.size} want=${oracle.triples.size}") {
      p should be >= 0.95
      r should be >= 0.95
      got shouldBe oracle.triples // the stronger invariant holds today
    }
  }

  test("canonicalization equals union-find oracle") {
    val got = tables.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got shouldBe oracle.components
  }

  test("extracted text is byte-identical per url (distributed vs oracle)") {
    import org.apache.spark.sql.functions.col
    val got = tables.flat.filter(col("rowKind") === "p").collect()
      .map(r => r.url -> r.nSentences).toMap
    got.keys.foreach { url => oracle.texts.contains(url) shouldBe true }
    // spot-check: sentence counts match the oracle's extracted text
    got.take(50).foreach { case (url, n) =>
      n shouldBe Tokenizer2.lineCount(oracle.texts(url))
    }
  }

  test("pipeline output is invariant under partition count") {
    val repart = PageGen.pages(spark, cfg).repartition(13)
    val t2 = Pipeline.run(spark, repart, cfg.nPersons)
    val a = tables.triples.collect().map(_.toString).sorted
    val b = t2.triples.collect().map(_.toString).sorted
    a shouldBe b
  }

  test("error isolation: a poisoned page is counted, not fatal") {
    import spark.implicits._
    val bad = Page("https://h/p/x", new java.sql.Timestamp(0), null, null, "en")
    val ds = PageGen.pages(spark, PageGen.Config(nPages = 20)).union(Seq(bad).toDS())
    val t = Pipeline.run(spark, ds, 100)
    t.triples.count() should be > 0L
    // null text goes through pageText fallback to "" — no exception path;
    // now force a real exception via a page whose url is null
    val worse = Seq(Page(null, new java.sql.Timestamp(0), null, "x", "en")).toDS()
    val t3 = Pipeline.run(spark, PageGen.pages(spark, PageGen.Config(nPages = 20)).union(worse), 100)
    t3.flat.filter(org.apache.spark.sql.functions.col("rowKind") === "p")
      .count() should be >= 20L
    t3.metrics.pagesErrored.value.longValue() should be >= 1L
  }

  test("pipeline-level resume: crash mid-materialize, resume, tables identical") {
    import org.apache.spark.sql.functions.col
    val clean = java.nio.file.Files.createTempDirectory("kg_clean").toString
    val crashed = java.nio.file.Files.createTempDirectory("kg_crash").toString
    try {
      // reference run: one-shot materialize
      Pipeline.materialize(spark, tables, clean)
      // crashed run: triples commits only 7 buckets, nodes/edges never start
      graft.store.TableIO.writeBucketed(
        tables.triples, s"$crashed/triples", col("url"),
        onlyBuckets = Some(Set(0, 3, 5, 11, 17, 23, 31)))
      graft.store.TableIO.missingBuckets(s"$crashed/triples").size shouldBe 25
      // resume = just run materialize again over the same tables
      Pipeline.materialize(spark, tables, crashed)
      graft.store.TableIO.missingBuckets(s"$crashed/triples") shouldBe empty
      for (tbl <- Seq("triples", "nodes", "edges")) {
        // set ops reject MapType — canonicalize props to a sorted entry array
        def cmp(df: org.apache.spark.sql.DataFrame) =
          if (df.columns.contains("props"))
            df.withColumn("props",
              org.apache.spark.sql.functions.array_sort(
                org.apache.spark.sql.functions.map_entries(col("props"))))
          else df
        val a = cmp(graft.store.TableIO.read(spark, s"$clean/$tbl"))
        val b = cmp(graft.store.TableIO.read(spark, s"$crashed/$tbl"))
        withClue(s"table $tbl: ") {
          b.count() shouldBe a.count()
          a.exceptAll(b).count() shouldBe 0L
          b.exceptAll(a).count() shouldBe 0L
        }
      }
      // lineage counters surface in the resumed manifest, once (a resume
      // states them; it does not add to a partial build's)
      val m = graft.store.TableIO.readManifest(s"$crashed/triples").get
      m.counters.keySet should contain allOf ("pagesIn", "mentions", "triples")
      m.counters shouldBe graft.store.TableIO.readManifest(s"$clean/triples").get.counters
    } finally {
      graft.store.TableIO.deleteRecursively(clean)
      graft.store.TableIO.deleteRecursively(crashed)
    }
  }

  test("canonical join past the cutover: shuffle path, identical triples") {
    // the broadcast build's triples, collected under the default threshold
    val a = tables.triples.collect().map(_.toString).sorted
    // with Spark's own auto-broadcast disabled, the canonical map must join
    // by a genuine shuffle (the shape that survives a component map too big
    // to broadcast) and yield the same triples
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t2 = Pipeline.run(spark, PageGen.pages(spark, cfg), cfg.nPersons)
      val plan = t2.triples.queryExecution.executedPlan.toString
      plan shouldNot include("BroadcastHashJoin")
      "(SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(plan) should be(defined)
      t2.triples.collect().map(_.toString).sorted shouldBe a
      t2.flatEnc.unpersist(false); t2.components.unpersist(false)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("triple provenance: SUBJ/OBJ edges point at the slot mentions") {
    import org.apache.spark.sql.functions.col
    val m = tables.flat.filter(col("rowKind") === "m")
      .select(col("mentionId").as("mid"), col("entityId").as("ment"),
        col("sentIdx").as("msent"))
    val t = tables.flat.filter(col("rowKind") === "t" && col("tripleNodeId") =!= 0L)
      .select(col("subj"), col("obj"), col("sentIdx").as("tsent"),
        col("subjMentionId"), col("objMentionId"))
    // every subject slot mention exists, carries the PRE-canon subject
    // entity, and sits in the triple's sentence
    val subjJoin = t.join(m, t("subjMentionId") === m("mid"))
    subjJoin.count() shouldBe t.count()
    subjJoin.filter(col("subj") =!= col("ment")).count() shouldBe 0L
    subjJoin.filter(col("tsent") =!= col("msent")).count() shouldBe 0L
    val to = t.filter(col("objMentionId") =!= 0L)
    val objJoin = to.join(m, to("objMentionId") === m("mid"))
    objJoin.count() shouldBe to.count()
    objJoin.filter(col("obj") =!= col("ment")).count() shouldBe 0L
    // and the materialized graph carries one SUBJ edge per Triple node
    val nTriples = tables.nodes.filter(col("kind") === "Triple").count()
    nTriples should be > 0L
    tables.edges.filter(col("kind") === "SUBJ").count() shouldBe nTriples
  }

  test("SAME_SENTENCE edges connect exactly the same-sentence mention pairs") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val m = tables.flat.filter(col("rowKind") === "m")
    // expected pair count = sum over (page, sentence) of C(k, 2)
    val expected = m.groupBy("pageId", "sentIdx").agg(count(lit(1)).as("k"))
      .collect().map(r => { val k = r.getLong(2); k * (k - 1) / 2 }).sum
    val got = tables.edges.filter(col("kind") === "SAME_SENTENCE")
    got.count() shouldBe expected
    // each edge joins two mentions of the same page+sentence, ordered
    val ml = m.select(col("mentionId").as("src"), col("sentIdx").as("sSent"),
      col("pageId").as("sPage"), col("mentionIdx").as("sIdx"))
    val mr = m.select(col("mentionId").as("dst"), col("sentIdx").as("dSent"),
      col("pageId").as("dPage"), col("mentionIdx").as("dIdx"))
    val j = got.join(ml, "src").join(mr, "dst")
    j.count() shouldBe expected
    j.filter(col("sSent") =!= col("dSent") || col("sPage") =!= col("dPage") ||
      col("sIdx") >= col("dIdx")).count() shouldBe 0L
    // branch labels (≙ CFGEdge True/False): exactly k-1 'True' (adjacent)
    // edges per (page, sentence) with k mentions, every other pair 'False'
    val expectedTrue = m.groupBy("pageId", "sentIdx").agg(count(lit(1)).as("k"))
      .collect().map(r => r.getLong(2) - 1).sum
    got.filter(col("label") === "True").count() shouldBe expectedTrue
    got.filter(col("label") === "False").count() shouldBe (expected - expectedTrue)
  }

  test("NEXT_MENTION 'except' label marks exactly the sentence-gap hops") {
    import org.apache.spark.sql.functions.col
    val m = tables.flat.filter(col("rowKind") === "m")
    val nm = tables.edges.filter(col("kind") === "NEXT_MENTION")
    val ml = m.select(col("mentionId").as("src"), col("sentIdx").as("sSent"))
    val mr = m.select(col("mentionId").as("dst"), col("sentIdx").as("dSent"))
    val j = nm.join(ml, "src").join(mr, "dst")
    j.filter(col("label") === "except")
      .filter(col("dSent") - col("sSent") <= 1).count() shouldBe 0L
    j.filter(col("label").isNull)
      .filter(col("dSent") - col("sSent") > 1).count() shouldBe 0L
    // non-flow edge kinds never carry a label
    tables.edges.filter(!col("kind").isin("NEXT_MENTION", "SAME_SENTENCE"))
      .filter(col("label").isNotNull).count() shouldBe 0L
  }

  test("skew exists by construction: mega-host and head entity") {
    val hosts = tables.flat.filter(org.apache.spark.sql.functions.col("rowKind") === "p")
      .collect().groupBy(_.host).view.mapValues(_.size)
    val mega = hosts.collect { case (h, n) if h.startsWith("host0.") => n }.sum
    mega.toDouble / hosts.values.sum should be > 0.15
    val subj0 = oracle.triples.count(_._1 == 0L)
    subj0 should be > oracle.triples.size / 20
  }
}

private object Tokenizer2 {
  def lineCount(text: String): Int =
    if (text.isEmpty) 0 else text.count(_ == '\n') + 1
}
