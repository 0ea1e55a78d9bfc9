package perfbench

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class HarnessSpec extends AnyFunSuite with Matchers {

  test("quantiles interpolate between order statistics; summaries carry n") {
    Stats.median(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) shouldBe 2.5
    Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) shouldBe 2.0
    Stats.quantile(Seq(7.0), 0.9) shouldBe 7.0
    an[IllegalArgumentException] should be thrownBy Stats.median(Nil)

    val few = Stats.summarize((1 to 99).map(_.toDouble))
    few.n shouldBe 99
    few.p50 shouldBe 50.0
    few.p90 shouldBe None // fewer than ten samples would lie above it
    val many = Stats.summarize((1 to 100).map(_.toDouble))
    many.n shouldBe 100
    many.p90.get shouldBe 90.1 +- 1e-9
  }

  test("a passing round records one sample per timed call") {
    val log = new OpLog
    log.round { t => t.time("a")(1 + 1); t.time("b")("x"); None } shouldBe true
    log.attempted shouldBe 2
    log.failed shouldBe 0
    log.samplesOf("a") should have size 1
    log.samplesOf("b") should have size 1
  }

  test("a throwing op is counted as failed and never timed") {
    val log = new OpLog
    log.round { t =>
      t.time("a")(())
      t.time("b")(throw new IllegalStateException("boom"))
      None
    } shouldBe false
    log.attempted shouldBe 2
    log.failed shouldBe 2
    log.samplesOf("a") shouldBe empty // the round's earlier sample is voided too
    log.samplesOf("b") shouldBe empty
    log.errorMessages.head should include("boom")
  }

  test("a failed output check voids the round's samples") {
    val log = new OpLog
    log.round { t => t.time("a")(42); Some("wrong answer") } shouldBe false
    log.round { t => t.time("a")(42); None } shouldBe true
    log.attempted shouldBe 2
    log.failed shouldBe 1
    log.samplesOf("a") should have size 1
    log.check("final", Some("mismatch"))
    log.check("final", None)
    log.attempted shouldBe 4
    log.failed shouldBe 2
  }

  test("a warm-up round is checked and counted but keeps no samples") {
    val log = new OpLog
    log.round(t => { t.time("a")(1); None }, keep = false) shouldBe true
    log.round(t => { t.time("a")(1); Some("wrong answer") }, keep = false) shouldBe false
    log.attempted shouldBe 2
    log.failed shouldBe 1
    log.samplesOf("a") shouldBe empty
  }

  private def span(id: Int, parent: Option[Int], s: Long, e: Long) =
    Span(id, s"s$id", parent, s * 1000000L, e * 1000000L, s, e)

  test("self time is wall time minus the union of the children") {
    val spans = Seq(
      span(0, None, 0, 100),
      span(1, Some(0), 10, 40),
      span(2, Some(0), 30, 60), // overlaps child 1: covered once
      span(3, Some(1), 15, 20), // grandchild: only its parent's self shrinks
      span(4, Some(0), 90, 130)) // clipped to the parent's interval
    val self = SpanLog.selfTimes(spans)
    self(0) shouldBe (100 - 50 - 10) / 1000.0 +- 1e-9
    self(1) shouldBe (30 - 5) / 1000.0 +- 1e-9
    self(2) shouldBe 0.030 +- 1e-9
    self(3) shouldBe 0.005 +- 1e-9
    self(4) shouldBe 0.040 +- 1e-9 // a leaf's self time is its wall time
  }

  test("self times of a sequential tree account for the root's wall time") {
    val spans = Seq(span(0, None, 0, 100), span(1, Some(0), 0, 30),
      span(2, Some(0), 40, 100), span(3, Some(2), 50, 60))
    SpanLog.selfTimes(spans).values.sum shouldBe spans.head.wallS +- 1e-9
  }

  test("jobs go to the innermost open span") {
    val spans = Seq(span(0, None, 0, 100), span(1, Some(0), 10, 40), span(2, Some(1), 20, 30))
    SpanLog.innermost(spans, 25).map(_.id) shouldBe Some(2)
    SpanLog.innermost(spans, 35).map(_.id) shouldBe Some(1)
    SpanLog.innermost(spans, 70).map(_.id) shouldBe Some(0)
    SpanLog.innermost(spans, 150) shouldBe None
  }

  private val writePlan =
    """== Physical Plan ==
      |AdaptiveSparkPlan (30)
      |+- Execute InsertIntoHadoopFsRelationCommand (29)
      |(1) InMemoryTableScan
      |(3) Scan parquet
      |Location: InMemoryFileIndex [file:/w/pages]
      |(29) Execute InsertIntoHadoopFsRelationCommand
      |Arguments: file:/w/kg/edges/data, false, [bucket#1], Parquet, [path=/w/kg/edges/data], Append
      |""".stripMargin
  private val scanPlan =
    """(1) Scan parquet
      |Location: InMemoryFileIndex [file:/w/kg/nodes/data/bucket=3/part-0.parquet, ... 31 entries]
      |""".stripMargin
  private val legacyScanPlan =
    "FileScan parquet [id#1] Location: InMemoryFileIndex(2 paths)[file:/w/kg/triples.new/data/b..."
  private def site(frames: String*): String =
    (("org.apache.spark.sql.Dataset.collect(Dataset.scala:3500)" +: frames) :+
      "perfbench.Main$.main(Main.scala:40)").mkString("\n")

  test("executions are tagged by table path first, then by the engine call site") {
    val materialize = site("graft.store.TableIO$.writeBucketed(TableIO.scala:229)",
      "graft.Pipeline$.$anonfun$materialize$3(Pipeline.scala:259)")
    Attribution.tag(writePlan, materialize) shouldBe Some("write:edges")
    Attribution.tag(scanPlan, "") shouldBe Some("scan:nodes")
    Attribution.tag(legacyScanPlan, "") shouldBe Some("scan:triples")
    Attribution.tag("Location: InMemoryFileIndex [file:/w/pages]",
      site("graft.util.Materialize$.pin(Materialize.scala:47)", "graft.Pipeline$.run(Pipeline.scala:101)")
    ) shouldBe Some("site:Materialize.scala@Pipeline.scala")
    Attribution.tag("", site("graft.Pipeline$.flatCounters(Pipeline.scala:370)")) shouldBe
      Some("site:Pipeline.scala")
    Attribution.tag("", site()) shouldBe None
  }

  test("execution to layer mapping") {
    def layer(plan: String, frames: String*) = Attribution.layerOf(plan, site(frames: _*), "query")
    layer(writePlan, "graft.Incremental$.appendPages(Incremental.scala:500)") shouldBe "store"
    layer("", "graft.Pipeline$.flatCounters(Pipeline.scala:370)",
      "graft.Incremental$.appendPages(Incremental.scala:470)") shouldBe "extract"
    layer("", "graft.util.Materialize$.pin(Materialize.scala:47)",
      "graft.Pipeline$.run(Pipeline.scala:101)") shouldBe "extract"
    layer("", "graft.util.Materialize$.iterate(Materialize.scala:56)",
      "graft.canon.ConnectedComponents$.auto(ConnectedComponents.scala:40)") shouldBe "canon"
    layer("", "graft.Pipeline$.canonicalizeTriples(Pipeline.scala:140)") shouldBe "pipeline"
    layer(scanPlan, "graft.Incremental$.bucketsOf(Incremental.scala:441)") shouldBe "incremental"
    layer(scanPlan, "graft.query.GraphAnalytics$.shortestPath(GraphAnalytics.scala:600)") shouldBe "query"
    layer(scanPlan) shouldBe "query" // a lazy KgCli frame collected by the client
    Attribution.layerOf(scanPlan, "", "incremental") shouldBe "incremental"
    layer("") shouldBe Attribution.Other
    layer("", "graft.model.PageGen$.pages(PageGen.scala:150)") shouldBe Attribution.Other
    Attribution.writeKind("write:nodes") shouldBe Some("nodes")
    Attribution.writeKind("write:entity_refcounts") shouldBe Some("side")
    Attribution.writeKind("scan:nodes") shouldBe None
  }

  test("the result line has exactly the four keys, numbers with all digits") {
    val line = Main.resultLine(correct = true, 3, 0, Seq(("setup_s", 1.234567891, "s")))
    line shouldBe
      """{"correct": true, "attempted": 3, "failed": 0, "metrics": {"setup_s": {"value": 1.234567891, "unit": "s"}}}"""
    Main.numStr(Double.NaN) shouldBe "0"
    Main.numStr(1e-7) shouldBe "0.0000001"
  }

  test("steal share is steal ticks over all ticks between two readings") {
    Main.stealShare((10L, 1000L), (60L, 1200L)) shouldBe 0.25
    Main.stealShare((10L, 1000L), (10L, 1000L)) shouldBe 0.0
  }

  test("per-layer names fit the limits and are unique") {
    val names = Main.perLayerNames.map(_._1)
    names.distinct should have size names.size
    names.size should be <= 128
    all(names) should fullyMatch regex "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
  }
}
