package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.util.Sessions

/** Streaming throughput probe (BASELINE.md evidence): run each measurement
  * twice in one JVM and report the steady-state second rep.
  *
  *   runMain graft.tools.StreamBench [nEvents] [nPages] [cores]
  *
  * 1. Stateful sessionize: nEvents deterministic events (blocks of 50
  *    consecutive 1s-apart events per user → one session per block, so the
  *    expected session count is exact) through flatMapGroupsWithState via
  *    MemoryStream in ~10 micro-batches. Reports events/sec and the session
  *    count (must equal nEvents/50 after the far-future flush sentinel).
  * 2. Streaming extraction: the build's extraction (`TripleExtractor.flat`,
  *    read through its unsorted decode view), over a FILE-SOURCE page stream (PageGen corpus parquet split
  *    into files, maxFilesPerTrigger=1 → real micro-batches), counted via
  *    foreachBatch (no driver materialization). Reports pages/sec and
  *    triples emitted, next to the batch wall on the identical corpus.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val nEvents = if (args.length > 0) args(0).toInt else 1000000
    val nPages = if (args.length > 1) args(1).toInt else 20000
    val cores = if (args.length > 2) args(2).toInt else 32
    val nFiles = if (args.length > 3) args(3).toInt else 10
    val spark = Sessions.local("graft-stream-bench", cores)
    try {
      for (rep <- 1 to 2) { sessionizeBench(spark, nEvents, rep) }
      for (rep <- 1 to 2) { extractBench(spark, nPages, nFiles, rep) }
    } finally spark.stop()
  }

  private def sessionizeBench(spark: SparkSession, n: Int, rep: Int): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1767225600000L
    // blocks of 50 consecutive events (1s apart) share a user; a user's
    // blocks are >> gap apart → sessions == nEvents/50 exactly
    val events = Array.tabulate(n) { i =>
      EventStream.Event(i.toLong, new Timestamp(base + i * 1000L),
        (i / 50) % 2000L, "e", 1.0)
    }
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStream.Event]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sb-sess").toString
    val sink = s"sb_sess_$rep"
    val q = EventStream.sessionize(mem.toDS(), gapSec = 1800, watermark = "30 minutes")
      .toDF().writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val t0 = System.nanoTime()
    try {
      events.grouped(n / 10 + 1).foreach { g => mem.addData(g.toSeq); q.processAllAvailable() }
      mem.addData(EventStream.Event(-1L, new Timestamp(base + n * 1000L + 400L * 24 * 3600 * 1000), -1L, "s", 0.0))
      q.processAllAvailable()
    } finally {
      q.stop(); graft.store.TableIO.deleteRecursively(ckpt)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val sessions = spark.table(sink).filter(col("user_id") >= 0).count()
    println(String.format(java.util.Locale.ROOT,
      "[streambench] sessionize rep=%d events=%d sessions=%d sec=%.2f events_per_sec=%.0f",
      rep, n, sessions, sec, n / sec))
  }

  private def extractBench(spark: SparkSession, nPages: Int, nFiles: Int, rep: Int): Unit = {
    import spark.implicits._
    val dir = s"/dev/shm/graft-sb-pages-$rep"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sb-ex").toString
    graft.store.TableIO.deleteRecursively(dir)
    val cfg = graft.model.PageGen.Config(nPages = nPages, sentMin = 40, sentMax = 80)
    // nFiles files → nFiles micro-batches under maxFilesPerTrigger=1 (the
    // micro-batch granularity knob: per-batch fixed cost is the streaming
    // overhead, so fewer/bigger batches amortize it)
    graft.model.PageGen.pages(spark, cfg).repartition(nFiles).write.parquet(dir)

    // batch reference wall on the identical corpus (same operator)
    val batchT0 = System.nanoTime()
    val batchPages = spark.read.parquet(dir).as[graft.model.Page]
    val batchTriples = EventStream.streamingTriples(spark, batchPages.toDF(), cfg.nPersons).count()
    val batchSec = (System.nanoTime() - batchT0) / 1e9

    val total = new java.util.concurrent.atomic.AtomicLong()
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val out = EventStream.streamingTriples(spark, stream, cfg.nPersons)
    val t0 = System.nanoTime()
    val q = out.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) => total.addAndGet(df.count()); () }
      .start()
    try q.processAllAvailable()
    finally { q.stop(); graft.store.TableIO.deleteRecursively(ckpt) }
    val sec = (System.nanoTime() - t0) / 1e9
    graft.store.TableIO.deleteRecursively(dir)
    println(String.format(java.util.Locale.ROOT,
      "[streambench] extract rep=%d pages=%d files=%d triples=%d stream_sec=%.2f pages_per_sec=%.0f " +
        "batch_triples=%d batch_sec=%.2f stream_overhead=%.2fx",
      rep, nPages, nFiles, total.get(), sec, nPages / sec, batchTriples, batchSec, sec / batchSec))
  }
}
