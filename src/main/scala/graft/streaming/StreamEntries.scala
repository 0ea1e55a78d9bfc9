package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream.Event

/** Driver-oracled streaming entries: each runs a REAL Structured Streaming
  * query — MemoryStream source fed in event-time-ordered micro-batches →
  * an [[EventStream]] operator → memory sink — and returns the sink table,
  * which the driver's DuckDB gate compares against equivalent batch SQL over
  * the same events parquet. That is the streaming ≡ batch contract checked
  * by the SAME oracle machinery as every batch operator; StreamingSpec keeps
  * covering the corners that need hand-built inputs (late data, out-of-order
  * arrival, event-time timeouts).
  *
  * Feeding in several ts-ordered chunks (with processAllAvailable between)
  * matters: watermarks only advance at micro-batch boundaries, so state is
  * exercised ACROSS batches — sessions span chunk cuts, join state carries
  * clicks forward, dedup state must survive into the next delivery.
  *
  * Scale note: the collect + MemoryStream here is verify plumbing at oracle
  * scale. A production caller points the same operators at
  * `spark.readStream` (file/Kafka source) — they are source-agnostic, and
  * their state bounds are documented per-op in [[EventStream]].
  */
object StreamEntries {

  private val NChunks = 4

  private def events(spark: SparkSession, dir: String): Array[Event] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
  }

  /** Run `build` over a MemoryStream fed in NChunks event-time-ordered
    * micro-batches. `redeliver` re-sends every chunk as its own second batch
    * (the at-least-once shape dedup exists for); `sentinel` appends one
    * far-future event after the data so the final watermark passes every
    * real session/window and append-mode state flushes. */
  private def run(spark: SparkSession, dir: String, sinkName: String,
                  build: Dataset[Event] => DataFrame,
                  outputMode: String = "append",
                  redeliver: Boolean = false,
                  sentinel: Boolean = false): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rows = events(spark, dir)
    val mem = MemoryStream[Event]
    val ckpt = Files.createTempDirectory(s"graft-ckpt-$sinkName").toString
    val q = build(mem.toDS()).writeStream.format("memory").queryName(sinkName)
      .outputMode(outputMode).option("checkpointLocation", ckpt).start()
    try {
      val per = math.max(1, (rows.length + NChunks - 1) / NChunks)
      rows.grouped(per).foreach { g =>
        mem.addData(g.toSeq); q.processAllAvailable()
        if (redeliver) { mem.addData(g.toSeq); q.processAllAvailable() }
      }
      if (sentinel) {
        val far = new Timestamp(rows.last.ts.getTime + 90L * 24 * 3600 * 1000)
        mem.addData(Event(-1L, far, -1L, "sentinel", 0.0))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      // the memory sink holds the results; the checkpoint state is dead
      // once the query stops — don't leak it into /tmp on every run
      graft.store.TableIO.deleteRecursively(ckpt)
    }
    spark.table(sinkName)
  }

  /** Watermarked tumbling-window counts/sums (complete mode: every window in
    * the final table — the feed is ts-ordered so nothing is late). */
  def streamWindow(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, "st1_sink",
      ds => EventStream.windowedCounts(ds.toDF(), "1 hour", "30 minutes"),
      outputMode = "complete")
      .select(unix_seconds(col("window_start")).as("win_start_s"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start_s", "event_type")

  /** Gap-based sessionization (flatMapGroupsWithState): sessions close as the
    * watermark passes end+gap; the sentinel advances it past the last real
    * event so every real session is emitted (its own user -1 stays open and
    * is filtered). */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, "st2_sink",
      ds => EventStream.sessionize(ds, gapSec = 1800, watermark = "30 minutes").toDF(),
      sentinel = true)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), unix_micros(col("session_start")).as("start_us"),
        col("n_events").cast("long").as("n_events"), col("duration_sec"))
      .orderBy("user_id", "start_us")

  /** Within-watermark dedup under at-least-once delivery: every chunk is
    * delivered twice (second time in its own micro-batch); the watermark is
    * sized past the corpus span so no id's state expires mid-run — output
    * must be exactly the distinct events. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, "st3_sink",
      ds => EventStream.dedupEvents(ds.toDF(), "40 days"),
      redeliver = true)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  /** Stream-stream attribution self-join: purchases × clicks of the same
    * user in the preceding 30 min of event time. Ts-ordered chunks keep the
    * state eviction sound: a click is evicted only once the purchase-side
    * watermark proves no future purchase can reach back to it. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, "st4_sink", ds => {
      val df = ds.toDF()
      EventStream.attributionJoin(
        df.filter(col("event_type") === "click"),
        df.filter(col("event_type") === "purchase"),
        windowSec = 1800, watermark = "30 minutes")
    })
      .orderBy("purchase_id", "click_id")

  /** Continuous-crawl ingest: a REAL streaming query whose foreachBatch sink
    * is [[graft.Incremental.appendPages]] — the first 80% of the corpus is a
    * batch bootstrap build, the rest arrives as page micro-batches, and
    * EVERY chunk is redelivered as its own second micro-batch (the
    * at-least-once shape). The sink is idempotent by content, not by luck:
    * appendPages' per-table overlap guards detect the duplicate batch and
    * skip it — the foreachBatch exactly-once pattern with the transaction id
    * derived from the data. The returned committed triples table must
    * hash-equal the FULL-corpus rebuild oracle (same SQL as kg_triples),
    * entity merges from late-arriving same_as evidence included. */
  def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val n = graft.Queries.kgPages(dir)
    val split = graft.Queries.appendSplit(dir).toInt
    val cfg = graft.model.PageGen.Config(nPages = n)
    val out = graft.Queries.appendBaseCopy(spark, dir) // shared bootstrap, private copy

    val mem = MemoryStream[graft.model.Page]
    val ckpt = Files.createTempDirectory("graft-ckpt-ingest").toString
    val q = mem.toDS().writeStream
      .foreachBatch { (batch: Dataset[graft.model.Page], _: Long) =>
        graft.Incremental.appendPages(spark, batch, out, cfg.nPersons); () }
      .option("checkpointLocation", ckpt).start()
    try {
      val chunks = (split until n).map(i => graft.model.PageGen.page(cfg, i.toLong))
        .grouped(math.max(1, (n - split + 2) / 3)).toSeq
      chunks.foreach { g =>
        mem.addData(g); q.processAllAvailable()
        mem.addData(g); q.processAllAvailable() // redelivery — must be a no-op
      }
    } finally {
      q.stop()
      graft.store.TableIO.deleteRecursively(ckpt)
    }
    // detach from the temp build so it can be reclaimed now, not on tmp GC
    val res = graft.util.Materialize.pin(graft.store.TableIO.read(spark, s"$out/triples")).df
    graft.store.TableIO.deleteRecursively(out)
    res
  }

  /** Continuous takedown: the retraction twin of [[streamIngest]] — a
    * full-corpus bootstrap build, then the corpus TAIL arrives as removal
    * requests in micro-batches through a streaming query whose foreachBatch
    * sink is [[graft.Incremental.removePages]], with EVERY chunk redelivered
    * (the at-least-once shape a real deletion-request queue has). Idempotence
    * is structural, not checkpoint luck: the page-node presence anchor makes
    * a redelivered takedown restrict to zero present pages and no-op, and the
    * refcount batch markers keep the delta log exactly-once. The committed
    * triples table must hash-equal the REMAINING-corpus rebuild oracle (same
    * SQL as kg_remove_triples — a DuckDB union-find that never saw the
    * removed pages' same-as evidence), retroactive component SPLITS included. */
  def streamTakedown(spark: SparkSession, dir: String): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val n = graft.Queries.kgPages(dir)
    val split = graft.Queries.appendSplit(dir).toInt
    val cfg = graft.model.PageGen.Config(nPages = n)
    val out = Files.createTempDirectory("graft-st6").toString
    // bootstrap: materialize the FULL corpus (reuses the session-cached
    // pipeline build); removal mutates, so the dir is private to this run
    graft.Pipeline.materialize(spark, graft.Queries.kg(spark, dir), out)
    val remaining = spark.range(0L, split.toLong)
      .map(i => graft.model.PageGen.page(cfg, i))

    val mem = MemoryStream[graft.model.Page]
    val ckpt = Files.createTempDirectory("graft-ckpt-takedown").toString
    val q = mem.toDS().writeStream
      .foreachBatch { (batch: Dataset[graft.model.Page], _: Long) =>
        graft.Incremental.removePages(spark, batch, remaining, out, cfg.nPersons); () }
      .option("checkpointLocation", ckpt).start()
    try {
      val chunks = (split until n).map(i => graft.model.PageGen.page(cfg, i.toLong))
        .grouped(math.max(1, (n - split + 2) / 3)).toSeq
      chunks.foreach { g =>
        mem.addData(g); q.processAllAvailable()
        mem.addData(g); q.processAllAvailable() // redelivery — must be a no-op
      }
    } finally {
      q.stop()
      graft.store.TableIO.deleteRecursively(ckpt)
    }
    val res = graft.util.Materialize.pin(graft.store.TableIO.read(spark, s"$out/triples")).df
    graft.store.TableIO.deleteRecursively(out)
    res
  }
}
