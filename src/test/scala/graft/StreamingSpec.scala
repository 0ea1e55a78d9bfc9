package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

class StreamingSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def ts(minute: Int) = new Timestamp(1767225600000L + minute * 60000L)

  test("watermarked windowed aggregation drops late data beyond the watermark") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win").outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(3), 1, "click", 2.0),
        Event(3, ts(12), 2, "buy", 5.0))
      q.processAllAvailable()
      // advance watermark far: old windows finalize
      input.addData(Event(4, ts(60), 1, "click", 1.0))
      q.processAllAvailable()
      // a VERY late event (window [0,10) long closed) must be dropped
      input.addData(Event(5, ts(2), 9, "late", 9.0))
      q.processAllAvailable()
      val rows = spark.table("win").collect()
      val clicks = rows.find(r => r.getString(1) == "click" &&
        r.getTimestamp(0) == ts(0)).get
      clicks.getLong(2) shouldBe 2L
      rows.exists(_.getString(1) == "late") shouldBe false
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on event-time timeout") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapSec = 600, watermark = "5 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: two events 5 min apart (one session), then 30 min gap → new session
      input.addData(
        Event(1, ts(0), 1, "a", 0), Event(2, ts(5), 1, "a", 0),
        Event(3, ts(40), 1, "a", 0))
      q.processAllAvailable()
      val closed = spark.table("sess").collect()
      closed.length shouldBe 1 // first session closed by the in-batch gap
      closed(0).getInt(2) shouldBe 2 // n_events
      closed(0).getLong(3) shouldBe 300L // 5 minutes
      // advance the watermark far past ts(40)+gap: the open session times out
      input.addData(Event(4, ts(500), 2, "a", 0))
      q.processAllAvailable()
      input.addData(Event(5, ts(501), 2, "a", 0)) // one more batch so timeouts fire
      q.processAllAvailable()
      val all = spark.table("sess").collect()
      val timedOut = all.filter(r => r.getLong(0) == 1L && r.getTimestamp(1) == ts(40))
      timedOut.length shouldBe 1
      timedOut(0).getInt(2) shouldBe 1
    } finally q.stop()
  }

  test("sessionize: cross-batch out-of-order event never moves the session backward") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapSec = 600, watermark = "30 minutes")
      .writeStream.format("memory").queryName("sess_ooo").outputMode("append").start()
    try {
      input.addData(Event(1, ts(60), 1, "a", 0)) // session starts at minute 60
      q.processAllAvailable()
      // late-but-in-watermark event at minute 52 (inside gap of start)
      input.addData(Event(2, ts(52), 1, "a", 0))
      q.processAllAvailable()
      // a third event 5 min later, then close via gap
      input.addData(Event(3, ts(65), 1, "a", 0), Event(4, ts(200), 1, "a", 0))
      q.processAllAvailable()
      val closed = spark.table("sess_ooo").collect()
      closed.length shouldBe 1
      closed(0).getTimestamp(1) shouldBe ts(52)  // start moved BACK to 52
      closed(0).getInt(2) shouldBe 3             // all three events merged
      closed(0).getLong(3) shouldBe 780L         // 52 -> 65 = 13 min, never negative
    } finally q.stop()
  }

  test("sessionize: consecutive stragglers merge into one early session") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS(), gapSec = 600, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_str").outputMode("append").start()
    try {
      input.addData(Event(1, ts(60), 1, "a", 0))
      q.processAllAvailable()
      // two stragglers 1 min apart, both > gap before the stored session:
      // they must merge with EACH OTHER (one early session), not emit two
      // zero-duration singletons. Nothing may be emitted before the
      // watermark passes them (no early-emit nondeterminism)...
      input.addData(Event(2, ts(30), 1, "a", 0), Event(3, ts(31), 1, "a", 0))
      q.processAllAvailable()
      spark.table("sess_str").count() shouldBe 0
      // ...so advance the watermark (1h) past both sessions' end + gap
      input.addData(Event(4, ts(200), 1, "a", 0))
      q.processAllAvailable()
      val closed = spark.table("sess_str").collect().sortBy(_.getTimestamp(1).getTime)
      closed.length shouldBe 2
      closed(0).getTimestamp(1) shouldBe ts(30)
      closed(0).getInt(2) shouldBe 2
      closed(0).getLong(3) shouldBe 60L
      closed(1).getTimestamp(1) shouldBe ts(60)
      closed(1).getInt(2) shouldBe 1
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event_ids within the watermark") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedupEvents(input.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(Event(1, ts(1), 1, "a", 1.0), Event(2, ts(2), 1, "b", 2.0))
      q.processAllAvailable()
      // re-delivery of id 1 (same and different payload) inside the watermark
      input.addData(Event(1, ts(1), 1, "a", 1.0), Event(1, ts(3), 9, "z", 9.0),
        Event(3, ts(4), 2, "c", 3.0))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
      ids shouldBe Array(1L, 2L, 3L)
    } finally q.stop()
  }

  test("stream-stream attribution join matches purchases to preceding clicks") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream.attributionJoin(clicks.toDF(), purchases.toDF(),
      windowSec = 600, watermark = "5 minutes")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      clicks.addData(
        Event(10, ts(0), 1, "click", 0),   // 11 min before -> outside the 10-min window
        Event(11, ts(8), 1, "click", 0),   // inside window
        Event(12, ts(9), 2, "click", 0))   // other user
      purchases.addData(Event(20, ts(11), 1, "purchase", 42.0))
      q.processAllAvailable()
      val rows = spark.table("attr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
      rows shouldBe Array((20L, 11L, 1L, 42.0))
    } finally q.stop()
  }

  test("streaming triple extraction equals the batch extractor on the same pages") {
    import spark.implicits._
    implicit val sctx = spark.sqlContext
    val cfg = graft.model.PageGen.Config(nPages = 50)
    val pages = (0L until 50L).map(i => graft.model.PageGen.page(cfg, i))
      .filter(_.lang == "en")
    val input = MemoryStream[graft.model.Page]
    val q = EventStream.streamingTriples(spark, input.toDF(), cfg.nPersons)
      .writeStream.format("memory").queryName("trip").outputMode("append").start()
    try {
      input.addData(pages.take(25))
      input.addData(pages.drop(25))
      q.processAllAvailable()
      val streamed = spark.table("trip").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
      val gaz = graft.extract.Gazetteer.default(cfg.nPersons)
      val auto = graft.extract.PatternAutomaton.compile(
        graft.extract.PatternAutomaton.DefaultRules)
      val batch = pages.flatMap(p =>
        graft.extract.TripleExtractor.extractPage(p, gaz, auto)
          .triples.filter(_.pred != "same_as").map(t => (t.subj, t.pred, t.obj))).sorted
      streamed.toSeq shouldBe batch
    } finally q.stop()
  }
}
