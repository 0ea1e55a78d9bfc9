package graft.tools

import graft.{Incremental, Pipeline}
import graft.model.PageGen
import graft.store.TableIO
import graft.util.Sessions

/** Scale probe for the corpus-growth ingest path: does appendPages cost
  * O(|batch|) — independent of the corpus it lands on — or does something
  * secretly scan the base build?
  *
  * Protocol: build base corpora of increasing size (nBase, 2·nBase, 4·nBase)
  * to separate dirs, append the SAME fixed-size batch to each, and report
  * the append wall time per base size plus the full-rebuild time of the
  * largest (base + batch) corpus for contrast. A flat append line across
  * growing bases is the O(batch) evidence; the rebuild column shows what the
  * increment avoids.
  *
  *   sbt "runMain graft.tools.AppendProbe [nBase] [nBatch] [cores]"
  */
object AppendProbe {
  def main(args: Array[String]): Unit = {
    val nBase = if (args.length > 0) args(0).toInt else 4000
    val nBatch = if (args.length > 1) args(1).toInt else 400
    val cores = if (args.length > 2) args(2).toInt else 32
    // Optional 4th arg: buckets at the SMALLEST base, scaled linearly with
    // the base (the production shape — numBuckets grows with the corpus so
    // bucket SIZE stays constant). 0 / absent keeps the fixed default,
    // which at large bases makes the batch's bucket-pruned reads span the
    // whole table (a 4k-page batch hashes into all 32 buckets) and turns
    // the probe corpus-linear for the wrong reason — measured: append at a
    // 400k base read 2x a 100k base under fixed 32 buckets, flat once
    // buckets scale.
    val baseBuckets = if (args.length > 3) args(3).toInt else 0
    val spark = Sessions.local("graft-append-probe", cores)
    import spark.implicits._
    try {
      def time[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      }
      val scales = Seq(1, 2, 4)
      val maxBase = nBase * scales.max
      // one deterministic page universe; the batch is always the SAME pages
      // [maxBase, maxBase + nBatch) so batch work is constant by construction
      val c = PageGen.Config(nPages = maxBase + nBatch)
      def range(lo: Long, hi: Long) = spark.range(lo, hi).map(i => PageGen.page(c, i))

      scales.foreach { s =>
        val base = nBase * s
        val nb = if (baseBuckets > 0) baseBuckets * s else TableIO.NumBuckets
        val dir = java.nio.file.Files.createTempDirectory(s"graft-append-probe-$base").toString
        val t0 = Pipeline.run(spark, range(0, base), c.nPersons)
        val (_, buildSec) = time(Pipeline.materialize(spark, t0, dir, numBuckets = nb))
        t0.flatEnc.unpersist(false); t0.components.unpersist(false)
        val (stats, appendSec) =
          time(Incremental.appendPages(spark, range(maxBase, maxBase + nBatch), dir,
            c.nPersons, numBuckets = nb))
        println(String.format(java.util.Locale.ROOT,
          "[appendprobe] base=%d buckets=%d batch=%d buildSec=%.2f appendSec=%.2f " +
            "remapped=%d tripleBucketsRewritten=%d edgeBucketsRewritten=%d",
          Long.box(base.toLong), Long.box(nb.toLong), Long.box(stats.pages),
          Double.box(buildSec),
          Double.box(appendSec), Long.box(stats.remappedIds),
          Long.box(stats.tripleBucketsRewritten.toLong),
          Long.box(stats.edgeBucketsRewritten.toLong)))
        TableIO.deleteRecursively(dir)
      }
      // contrast: what the increment avoids at the largest scale
      val dir = java.nio.file.Files.createTempDirectory("graft-append-probe-full").toString
      val t1 = Pipeline.run(spark, range(0, maxBase + nBatch), c.nPersons)
      val (_, rebuildSec) = time(Pipeline.materialize(spark, t1, dir))
      t1.flatEnc.unpersist(false); t1.components.unpersist(false)
      println(String.format(java.util.Locale.ROOT,
        "[appendprobe] fullRebuild base=%d+%d sec=%.2f",
        Long.box(maxBase.toLong), Long.box(nBatch.toLong), Double.box(rebuildSec)))
      TableIO.deleteRecursively(dir)

      // hot-merge contrast: same base + batch, eager vs merge-on-read. The
      // smallest base is the merge-heavy one (head-entity links scatter
      // stale rows into every bucket) — exactly where deferral pays.
      Seq(false, true).foreach { defer =>
        val d2 = java.nio.file.Files.createTempDirectory(
          s"graft-append-probe-mor-$defer").toString
        val tb = Pipeline.run(spark, range(0, nBase), c.nPersons)
        Pipeline.materialize(spark, tb, d2)
        tb.flatEnc.unpersist(false); tb.components.unpersist(false)
        val (st, sec) = time(Incremental.appendPages(spark,
          range(maxBase, maxBase + nBatch), d2, c.nPersons,
          deferMergeRewrite = defer))
        val (_, readSec) = time(Incremental.readTriples(spark, d2).count())
        println(String.format(java.util.Locale.ROOT,
          "[appendprobe] mode=%s base=%d appendSec=%.2f readSec=%.2f " +
            "remapped=%d tripleBucketsRewritten=%d edgeBucketsRewritten=%d",
          if (defer) "merge-on-read" else "eager", Long.box(nBase.toLong),
          Double.box(sec), Double.box(readSec), Long.box(st.remappedIds),
          Long.box(st.tripleBucketsRewritten.toLong),
          Long.box(st.edgeBucketsRewritten.toLong)))
        TableIO.deleteRecursively(d2)
      }
    } finally spark.stop()
  }
}
