package graft.tools

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Adversarial battery for the CorpusOps substring machinery: N documents
  * that ALL share the same 15-token boilerplate block (the web-corpus norm —
  * cookie banners, nav bars), plus a few unique tokens each. Every
  * boilerplate k-gram therefore occurs in ALL N documents:
  *
  *  - duplicatedSpans: the hot grams hit the groupBy (map-side partial agg —
  *    each task pre-counts its slice, the reducer sees one row per gram per
  *    task, not N rows), the duplicated-gram SET stays tiny (8 grams), and
  *    the occurrence re-attach is a semi-join. The only window is per-doc
  *    (≤ a handful of rows). Wall time must stay ~linear in N with no
  *    straggler task.
  *  - contamination: the bench set contains the boilerplate, so EVERY train
  *    doc matches — the distinct + semi-join + count path at its hottest.
  *  - packSequences: shard state stays bounded by the budget regardless
  *    of N (the groupBy key count grows with N, state per key does not).
  *  - shardPack: the auto-derived chunk width bounds the driver-collected
  *    prefix rows at CorpusOps.MaxChunks no matter the corpus size — the
  *    cell logs the actual collected-chunk count alongside the wall.
  *
  *   runMain graft.tools.CorpusSkewProbe [nDocs] [cores] [spans|contam|pack|shard|all]
  */
object CorpusSkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val op = if (args.length > 2) args(2) else "spans"
    val spark = Sessions.local("graft-corpus-skew-probe", cores)
    try {
      val boiler = "accept all cookies to continue reading this site uses " +
        "cookies to improve your experience ok"
      // unique prefix/suffix tokens so only the boilerplate block duplicates
      val docs = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", concat(lit("u"), col("id")), lit(boiler),
          concat(lit("v"), col("id"))).as("text"))
      def run(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val rows = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(String.format(java.util.Locale.ROOT,
          "[corpusskew] op=%s nDocs=%d rows=%d sec=%.2f", label, n, rows, sec))
      }
      if (op == "spans" || op == "all")
        // every doc gets exactly one span over the boilerplate block
        run("spans")(graft.ops.CorpusOps.duplicatedSpans(docs, k = 8).count())
      if (op == "contam" || op == "all")
        run("contam")(graft.ops.CorpusOps.contamination(
          docs.filter(col("doc_id") % 100 =!= 0L),
          docs.filter(col("doc_id") % 100 === 0L), k = 8).count())
      if (op == "pack" || op == "all")
        run("pack")(graft.ops.CorpusOps.packSequences(
          docs, budget = 4096L, seqLen = 512, chunk = 256L).count())
      if (op == "shard" || op == "all")
        // auto chunk width: the driver prefix collects ≤ MaxChunks rows
        // (the count below) even at 10M+ docs; output invariance vs an
        // explicit width is covered by CorpusOpsSpec
        run("shard") {
          val out = graft.ops.CorpusOps.shardPack(docs, budget = 4096L).count()
          val width = graft.ops.CorpusOps.autoChunk(docs)
          val nChunks = docs.agg(
            countDistinct(expr(s"doc_id div ${width}L"))).head().getLong(0)
          println(s"[corpusskew] shard chunk width=$width driver-collected " +
            s"chunk rows=$nChunks (cap ${graft.ops.CorpusOps.MaxChunks})")
          out
        }
    } finally spark.stop()
  }
}
