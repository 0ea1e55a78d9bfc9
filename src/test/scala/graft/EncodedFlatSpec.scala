package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.extract._
import graft.model._

/** The dictionary-encoded flat cache (FlatRowEnc + its decode view) must be
  * a BIT-EXACT round trip of the per-page string rows: every downstream
  * consumer — the driver's 99 oracled entries included — reads through the
  * decode view, so any divergence here is a silent corpus-wide corruption. */
class EncodedFlatSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(n: Int) = {
    val cfg = PageGen.Config(nPages = n)
    PageGen.pages(spark, cfg).filter($"lang" === "en")
  }

  test("the decoded extraction == toFlatRows(extractPage), row for row, null for null") {
    val pages = corpus(400)
    val g = Gazetteer.default(500)
    val a = PatternAutomaton.compile(PatternAutomaton.DefaultRules)
    def byKey(rows: Array[FlatRow]) =
      rows.sortBy(r => (r.pageId, r.rowKind, r.mentionId, r.subj, r.obj, String.valueOf(r.pred)))

    // the reference: the driver-side pure per-page function, page by page
    val want = byKey(pages.collect()
      .flatMap(p => TripleExtractor.toFlatRows(TripleExtractor.extractPage(p, g, a))))
    val ex = TripleExtractor.flat(pages, 500)
    val got = byKey(ex.view.collect())

    got.length shouldBe want.length
    got.zip(want).foreach { case (g0, w0) => g0 shouldBe w0 }
    ex.metrics.dictMisses.value shouldBe 0L
    // the kind-determined overlay defaults (conf; p-dim fields on non-"p"
    // rows) never deviated — the encode was lossless for this corpus
    ex.metrics.overlayLost.value shouldBe 0L
  }

  test("the persisted pipeline cache is the ENCODED shape (ints, not strings)") {
    val t = Pipeline.run(spark, PageGen.pages(spark, PageGen.Config(nPages = 120)), 200)
    try {
      // the persisted frame carries int codes for the four vocab columns
      val encSchema = t.flatEnc.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      encSchema("rowKind") shouldBe "tinyint"
      encSchema("pred") shouldBe "int"
      encSchema("norm") shouldBe "int"
      encSchema("label") shouldBe "tinyint"
      // the overlaid/derived columns store NO physical bytes in the cache:
      // host/hostId/nSentences ride the p-row slots of strA/idA/mentionIdx,
      // conf is rowKind-determined and re-derived at decode
      Seq("host", "hostId", "nSentences", "conf", "mentionId", "surface",
        "tripleNodeId", "objValue").foreach(c => encSchema should not contain key(c))
      encSchema.size shouldBe 15
      // the view restores the historical schema exactly
      val viewSchema = t.flat.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      viewSchema("rowKind") shouldBe "string"
      viewSchema("pred") shouldBe "string"
      viewSchema("norm") shouldBe "string"
      viewSchema("label") shouldBe "string"
      // decoded values are the historical vocabularies
      val kinds = t.flat.select("rowKind").distinct().as[String].collect().sorted
      kinds shouldBe Array("e", "m", "p", "t")
      val labels = t.flat.filter($"label".isNotNull).select("label")
        .distinct().as[String].collect().sorted
      labels shouldBe Array("False", "True", "except")
      t.flat.filter($"rowKind" === "t" && $"pred".isNull).count() shouldBe 0L
      // and the view is what the graph tables were built from: a mention's
      // norm decodes to a gazetteer alias verbatim
      val norms = t.flat.filter($"rowKind" === "m").select("norm").distinct()
        .as[String].collect()
      val aliasSet = Gazetteer.default(200).candidates.keySet
      norms.foreach(n => aliasSet should contain(n))
    } finally {
      t.flatEnc.unpersist(false); t.components.unpersist(false)
    }
  }

  test("DictDecode: interpreted and codegen agree; out-of-range → null") {
    import graft.functions.DictDecode
    val dict = spark.sparkContext.broadcast(Array("a", "b", "c"))
    val df = Seq(-1, 0, 1, 2, 3, 99).toDF("c").withColumn("c", $"c".cast("int"))
    val got = df.select(DictDecode.decode($"c", dict).as("s")).as[String].collect()
    got shouldBe Array(null, "a", "b", "c", null, null)
    // byte-typed child too (the rowKind/label shape)
    val dfb = Seq(-1, 0, 2).toDF("c").withColumn("c", $"c".cast("byte"))
    dfb.select(DictDecode.decode($"c", dict).as("s")).as[String].collect() shouldBe
      Array(null, "a", "c")
  }
}
