package graft.tools

import org.apache.spark.sql.SparkSession

import graft.Pipeline
import graft.model.{Page, PageGen}
import graft.store.TableIO
import graft.util.Sessions

/** The north rule's scaling criterion, measured in ITS OWN framing: the
  * same spark-submit job at two CLUSTER SIZES — N and 4N executors — not
  * two thread counts in one JVM.
  *
  * `--master local-cluster[E,C,mem]` forks E real executor JVMs (own heap,
  * own GC, own block manager, wire shuffles through a standalone
  * Master/Worker), so submitting the probe once at `local-cluster[1,2,m]`
  * and once at `local-cluster[4,2,m]` runs the identical pipeline job on
  * the identical parquet input at 1 executor vs 4 executors — the
  * BASELINE.json rule text verbatim, minus the physical second machine.
  * Each 4× executor step also brings 4× executor memory, exactly as a real
  * cluster resize would (the single-JVM `local[N]` protocol cannot grant
  * that, which is one of its documented confounders).
  *
  *   spark-submit --master 'local-cluster[1,2,16384]' --driver-memory 8g \
  *     --conf spark.executor.extraJavaOptions=-XX:ActiveProcessorCount=2 \
  *     --class graft.tools.ExecScaleProbe <jar> \
  *     <pagesDir> <warmDir> <nPages> <totalCores> <nRounds>
  *
  * The probe materializes the corpus deterministically if absent (PageGen
  * is seeded — every submit sees byte-identical input), JIT-warms each
  * fresh executor set on a quarter corpus UNTIMED (fresh JVMs per submit
  * would otherwise charge cold C2 compilation to the short high-core legs
  * — measured 2-3× slow in BASELINE.md), then times `nRounds` full
  * pipeline passes (scan → extract → link → CC → materialize, the bench's
  * own leg) and prints one GRAFT_EXECSCALE line per round plus a best-of
  * summary. Interleave submits across the two cluster sizes so
  * neither level owns a host-noise burst.
  */
object ExecScaleProbe {

  private def corpusIfAbsent(spark: SparkSession, dir: String, nPages: Int): Unit = {
    if (!new java.io.File(dir, "_SUCCESS").exists()) {
      val cfg = PageGen.Config(nPages = nPages, sentMin = 40, sentMax = 80)
      TableIO.deleteRecursively(dir)
      // FIXED 64-way layout regardless of which cluster size materializes
      // it: the ambient local-cluster[1,2] session would otherwise write 2
      // files × 1 row group, and a single-row-group file is effectively
      // unsplittable — every downstream scan (and the extraction stage
      // fused to it) runs 2-wide NO MATTER how many executors exist, which
      // silently caps the very scaling this probe measures. (Caught in
      // round 5: extract-only "scaled" 0.29 until the input layout was
      // widened; same input for both levels either way.)
      PageGen.pages(spark, cfg).repartition(64).write.mode("overwrite").parquet(dir)
    }
  }

  /** Extraction-ONLY pass (mode=extract): scan → mapPartitions extract →
    * count, nothing persisted, no cache, no shuffle, no write — the pure
    * compute phase the thread-level probes measure at 0.88-0.93. Under the
    * executor framing this is the cell the DRAM attribution predicts scales
    * NEAR-IDEALLY (its resident bytes are one streamed batch per task, so
    * concentrating 4 JVMs on one memory controller costs little). Returns
    * flat-row count as the work unit. */
  private def runExtractOnce(spark: SparkSession, pagesDir: String): (Long, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val n = graft.extract.TripleExtractor
      .flat(spark.read.parquet(pagesDir).as[Page].filter($"lang" === "en"), 500).enc
      .count()
    val sec = (System.nanoTime() - t0) / 1e9
    (n, sec)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val pagesDir = if (args.length > 0) args(0) else "/dev/shm/graft-execscale-pages"
    val warmDir = if (args.length > 1) args(1) else "/dev/shm/graft-execscale-warm"
    val nPages = if (args.length > 2) args(2).toInt else 40000
    val totalCores = if (args.length > 3) args(3).toInt else 2
    val nRounds = if (args.length > 4) args(4).toInt else 2
    val mode = if (args.length > 5) args(5) else "full" // full | extract
    val spark = Sessions.local(s"graft-execscale-$totalCores", totalCores)
    // the codec follows the master (Sessions): compressed under local-cluster
    val compressed = spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed")
    try {
      val master = spark.sparkContext.master // local-cluster[E,C,mem]
      corpusIfAbsent(spark, pagesDir, nPages)
      corpusIfAbsent(spark, warmDir, math.max(nPages / 4, 200))
      def pass(dir: String, out: String): (Long, Double) =
        if (mode == "extract") runExtractOnce(spark, dir)
        else graft.Bench.runPipeline(spark, dir, out)
      val wt0 = System.nanoTime()
      pass(warmDir, s"$pagesDir-warmout") // untimed JIT warm
      System.err.println(f"[execscale] warm done in ${(System.nanoTime() - wt0) / 1e9}%.1f s")
      val rounds = (1 to nRounds).map { i =>
        val (n, sec) = pass(pagesDir, s"$pagesDir-out")
        println(f"GRAFT_EXECSCALE master=$master mode=$mode compressed=$compressed " +
          f"cores=$totalCores round=$i units=$n sec=$sec%.3f thr=${n / sec}%.1f")
        (n, sec)
      }
      val (n, best) = rounds.minBy(_._2)
      println(f"GRAFT_EXECSCALE_BEST master=$master mode=$mode compressed=$compressed " +
        f"cores=$totalCores units=$n sec=$best%.3f thr=${n / best}%.1f")
    } finally spark.stop()
  }
}
