package graft.tools

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Adversarial hot-bucket battery for the near-dup cap rework (the CcBench
  * twin for Dedup): N IDENTICAL documents — every band of every doc lands in
  * the SAME (band, bandHash) bucket, the exact degenerate shape that killed
  * the row_number-over-Window cap (one reducer sorting N rows per band).
  * With the MinKAgg bounded-heap cap the bucket shrinks to maxBucket ids
  * inside every map task, so wall time stays ~linear in the SCAN, not in
  * any single bucket. Expected pairs = C(maxBucket, 2) (identical docs: all
  * bands keep the same capped id set).
  *
  * The same battery runs all three cappedPairs callers: minhash (bands),
  * simhash (chunk values — all four chunks identical across docs), and
  * embedding hyperplane LSH (identical vectors → one bucket).
  *
  * The `ingest` mode is the persisted-index twin: a small seen corpus, then
  * ONE crawl batch of N identical boilerplate docs gated through
  * Dedup.ingestDedup — every batch doc probes the SAME bucket, which the
  * stored min-k lists bound at maxBucket entries per band, so the probe join
  * is O(batch · bands · maxBucket) and the fold-forward keeps the index
  * bucket capped instead of growing it by N.
  *
  *   runMain graft.tools.DedupSkewProbe [nDocs] [cores] [minhash|simhash|embed|ingest|all]
  */
object DedupSkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 2000000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val op = if (args.length > 2) args(2) else "minhash"
    val spark = Sessions.local("graft-dedup-skew-probe", cores)
    try {
      val docs = spark.range(n).select(col("id").as("doc_id"),
        lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
      def run(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val pairs = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(String.format(java.util.Locale.ROOT,
          "[skewprobe] op=%s nDocs=%d pairs=%d sec=%.2f", label, n, pairs, sec))
      }
      if (op == "minhash" || op == "all")
        run("minhash")(graft.ops.Dedup.minhashLSH(docs).count())
      if (op == "simhash" || op == "all")
        run("simhash")(graft.ops.Dedup.simhashNearDup(docs).count())
      if (op == "ingest" || op == "all") {
        val dir = java.nio.file.Files.createTempDirectory("graft-skew-index").toString
        try {
          graft.ops.Dedup.buildMinhashIndex(docs.limit(1000), dir)
          val batch = spark.range(n).select((col("id") + 1000000L).as("doc_id"),
            lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
          run("ingest")(graft.ops.Dedup.ingestDedup(batch, dir)
            .filter(col("kept")).count())
        } finally graft.store.TableIO.deleteRecursively(dir)
      }
      if (op == "embed" || op == "all") {
        val embs = spark.range(n).select(col("id").as("vec_id"),
          array((0 until 16).map(i => lit((i % 7 + 1).toFloat)): _*).as("embedding"))
        run("embed")(graft.ops.Dedup.embeddingNearDup(embs).count())
      }
    } finally spark.stop()
  }
}
