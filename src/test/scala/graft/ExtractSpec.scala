package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.extract._
import graft.model._

class TextExtractorSpec extends AnyFunSuite with Matchers {
  test("strips tags, boilerplate, decodes entities, collapses whitespace") {
    val html =
      """<html><head><title>t</title><style>p{}</style>
        |<script>if (1 &lt; 2) { alert("x"); }</script></head>
        |<body><nav>home | about</nav>
        |<p>Hello   <b>world</b> &amp; friends.</p>
        |<p>Second  line.</p>
        |<footer>foot</footer></body></html>""".stripMargin
    TextExtractor.extract(html) shouldBe "Hello world & friends.\nSecond line."
  }

  test("comments and numeric entities") {
    TextExtractor.extract("<p>a<!-- hidden -->b &#65;&#x42;</p>") shouldBe "ab AB"
  }

  test("unterminated script drops the rest; bare ampersand kept") {
    TextExtractor.extract("<p>x & y</p><script>var a=1;") shouldBe "x & y"
  }

  test("byte-identity on generated pages: extract(html) == text") {
    val cfg = PageGen.Config(nPages = 300)
    var checked = 0
    (0L until 300L).foreach { i =>
      val p = PageGen.page(cfg, i)
      if (p.html != null) {
        TextExtractor.extract(p.html) shouldBe p.text
        checked += 1
      }
    }
    checked should be > 200
  }

  test("null html falls back to text column") {
    TextExtractor.pageText(null, "plain") shouldBe "plain"
  }
}

class TokenizerSpec extends AnyFunSuite with Matchers {
  test("splits whitespace, keeps abbreviation dots, splits sentence dots") {
    Tokenizer.tokens("A. Lovelace works for Acme .") shouldBe
      Array("A.", "Lovelace", "works", "for", "Acme", ".")
    Tokenizer.tokens("Turing lived.") shouldBe Array("Turing", "lived", ".")
  }
  test("numbers") {
    Tokenizer.isNumber("42") shouldBe true
    Tokenizer.isNumber("4a") shouldBe false
    Tokenizer.isNumber("") shouldBe false
  }
}

class GazetteerSpec extends AnyFunSuite with Matchers {
  val gaz = Gazetteer.build(Seq(
    ("Ada Lovelace", 1L, 1.0), ("Lovelace", 1L, 1.0), ("A. Lovelace", 1L, 1.0),
    ("Alan Turing", 2L, 0.5), ("Turing", 2L, 0.5),
    ("Mary Lovelace", 3L, 0.2), ("Lovelace", 3L, 0.2)))

  test("longest match wins") {
    val toks = "Ada Lovelace met Alan Turing .".split(' ').map(_.toLowerCase)
    gaz.findMentions(toks).map(m => (m._1, m._2, m._3)) shouldBe
      List((0, 2, "ada lovelace"), (3, 5, "alan turing"))
  }
  test("ambiguous alias yields multiple candidates") {
    gaz.candidates("lovelace").map(_._1) shouldBe List(1L, 3L)
  }
  test("case-insensitive") {
    gaz.findMentions("ada lovelace".split(' ')).map(_._3) shouldBe List("ada lovelace")
  }
}

class PatternSpec extends AnyFunSuite with Matchers {
  val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)
  val gaz = Gazetteer.default(100)

  private def matches(sentence: String): List[(String, Vector[Int])] = {
    val toks = Tokenizer.tokens(sentence)
    val ms = gaz.findMentions(toks.map(_.toLowerCase))
    val mentionAt = Array.fill(toks.length)(-1)
    ms.zipWithIndex.foreach { case ((s, e, _), k) => (s until e).foreach(mentionAt(_) = k) }
    auto.matchAll(toks, mentionAt).map { case (r, b) => (r.pred, b) }
  }

  test("works_for") {
    matches("Ada Lovelace works for Babbage & Sons .").map(_._1) shouldBe List("works_for")
  }
  test("met emits met and met_in") {
    matches("Ada Lovelace met Alan Turing in London .").map(_._1).toSet shouldBe
      Set("met", "met_in")
  }
  test("age binds numeric literal") {
    val m = matches("Ada Lovelace is 36 years old .")
    m.map(_._1) shouldBe List("age")
  }
  test("same_as shares 'is' prefix with age rule") {
    matches("Ada Lovelace is also known as Alan Turing .").map(_._1) shouldBe List("same_as")
  }
  test("no match on plain text") {
    matches("Ada Lovelace enjoys walks .") shouldBe Nil
  }
}

class LinkingSpec extends AnyFunSuite with Matchers {
  import java.sql.Timestamp
  val gaz = Gazetteer.build(Seq(
    ("Ada Lovelace", 1L, 0.9), ("Lovelace", 1L, 0.9),
    ("Mary Lovelace", 3L, 0.95), ("Lovelace", 3L, 0.95),
    ("Acme", 100L, 1.0)))
  val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)

  private def page(text: String) =
    Page("https://h.example.com/p/1", new Timestamp(0L), null, text, "en")

  test("ambiguous alias resolved by page context") {
    // "Ada Lovelace" is unambiguous -> context {1}; bare "Lovelace" then
    // links to 1 despite 3 having the higher prior.
    val ex = TripleExtractor.extractPage(
      page("Ada Lovelace works for Acme .\nLovelace works for Acme ."), gaz, auto)
    ex.triples.map(t => (t.subj, t.pred, t.obj)) shouldBe
      Seq((1L, "works_for", 100L), (1L, "works_for", 100L))
  }

  test("without context, prior wins") {
    val ex = TripleExtractor.extractPage(page("Lovelace works for Acme ."), gaz, auto)
    ex.triples.map(_.subj) shouldBe Seq(3L) // prior 0.95 > 0.9
  }

  test("shuffle-join linker equals the broadcast in-extractor resolver on the full corpus") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cfg = graft.model.PageGen.Config(nPages = 300)
    val t = Pipeline.run(spark, graft.model.PageGen.pages(spark, cfg), cfg.nPersons)
    val mentions = t.flat.filter(col("rowKind") === "m")
      .select("pageId", "mentionId", "norm")
    // alias table with the gazetteer's exact normalization + dedup (first
    // (normKey, entityId) occurrence wins)
    val seen = scala.collection.mutable.Set.empty[(String, Long)]
    val aliases = graft.model.KB.aliasEntries(cfg.nPersons).flatMap { e =>
      val key = Tokenizer.tokens(e.alias).map(_.toLowerCase).mkString(" ")
      if (key.nonEmpty && seen.add((key, e.entityId))) Some((key, e.entityId, e.prior))
      else None
    }.toDF("norm", "entityId", "prior")
    val relational = graft.link.ShuffleLinker.linkMentions(mentions, aliases)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val local = t.flat.filter(col("rowKind") === "m")
      .select("mentionId", "entityId")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    relational.size shouldBe local.size
    val diffs = local.collect { case (m, e) if relational(m) != e => (m, e, relational(m)) }
    withClue(s"first diffs: ${diffs.take(5).mkString(", ")}") { diffs shouldBe empty }
  }

  test("a bad page never kills the job: error isolated per row") {
    // malformed page (null everything) goes through pageText fallback
    val ex = TripleExtractor.extractPage(page(""), gaz, auto)
    ex.triples shouldBe empty
    ex.error shouldBe null
  }
}
