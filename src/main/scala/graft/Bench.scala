package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.model.PageGen
import graft.util.{Json, Sessions}

/** Benchmark main (driver-run; BASELINE.md protocol).
  *
  * Two measurements, one JSON line:
  *  1. KG-pipeline throughput (triples/sec through scan→extract→link→CC→
  *     materialize) at the parallelism levels of [[ladder]] (N/16, N/4, N
  *     cores where those are distinct) on the same input — evidencing the
  *     north rule's N→4N scaling-efficiency criterion in this no-cluster
  *     sandbox at two N→4N pairs.
  *     Output goes to tmpfs: the host VM's disk throughput varies 5×
  *     run-to-run, which would otherwise dominate the measurement; parquet
  *     encode (the engine's work) is still fully measured.
  *     Interleaved best-of-3 rounds per level suppress residual noise
  *     (neighbor-VM bursts last minutes; cycling levels decorrelates).
  *  2. Headline query timings on SPARK_GRAFT_SF_DIR at local[N].
  *
  * The bench corpus uses Common-Crawl-like page weights (40-80 sentences
  * ≈ 3-6 KB text per page) — at the reference workload's page sizes the
  * pipeline is extraction-dominated, which is the regime the 100-TB design
  * targets (per-page local work, zero shuffle until the entity merge).
  */
object Bench {
  private def withSession[A](cores: Int)(body: SparkSession => A): A = {
    val spark = Sessions.local(s"graft-bench-$cores", cores)
    try body(spark) finally spark.stop()
  }

  /** Write the synthetic corpus as a parquet pages table once (untimed
    * setup): the timed job then READS the table — the input_hint shape
    * (Iceberg-style pages table in, KG tables out). */
  private def materializeCorpus(cores: Int, nPages: Int, dir: String): Unit =
    withSession(cores) { spark =>
      val cfg = PageGen.Config(nPages = nPages, sentMin = 40, sentMax = 80)
      graft.store.TableIO.deleteRecursively(dir)
      PageGen.pages(spark, cfg).write.mode("overwrite").parquet(dir)
    }

  /** One pipeline leg: the full pipeline incl. materialization over
    * `spark`, timed; returns (triples, seconds). */
  private[graft] def runPipeline(spark: SparkSession, pagesDir: String,
                                 outDir: String): (Long, Double) = {
    import spark.implicits._
    graft.store.TableIO.deleteRecursively(outDir)
    val t0 = System.nanoTime()
    val t = Pipeline.run(spark, spark.read.parquet(pagesDir).as[graft.model.Page], 500)
    Pipeline.materialize(spark, t, outDir)
    // committed-row count from the manifest (footer-derived lineage) —
    // no extra read-back job inside the timed region
    val nTriples = graft.store.TableIO.readManifest(s"$outDir/triples")
      .map(_.buckets.values.sum).getOrElse(0L)
    val sec = (System.nanoTime() - t0) / 1e9
    t.flatEnc.unpersist(false)
    t.components.unpersist(false)
    graft.store.TableIO.deleteRecursively(outDir)
    (nTriples, sec)
  }

  private def leg(cores: Int, pagesDir: String, outDir: String): (Long, Double) =
    withSession(cores)(runPipeline(_, pagesDir, outDir))

  /** The pipeline legs' core counts, distinct and ascending: N/16, N/4 and
    * N, with the lower levels raised to the smallest distinct counts where
    * integer division collapses them (1/2/4 at N = 4, 2/8/32 at N = 32). A
    * one- or two-core host has fewer levels. */
  private[graft] def ladder(cpus: Int): Seq[Int] = {
    val low = math.max(cpus / 16, 1)
    val mid = math.max(cpus / 4, low + 1)
    Seq(low, mid, cpus).filter(_ <= cpus).distinct
  }

  /** Pre-flight burst gate. The host is a shared microVM whose neighbor
    * bursts inflate walls 1.5-7x for minutes at a time; twice (rounds 3+4)
    * a burst-window bench produced a corrupted working-tree artifact that a
    * human had to adjudicate. The protocol (BASELINE.md "bench protocol")
    * now lives HERE: two pure relational sentinels (q1_agg, q19_running_sum
    * — code touching only the KG cache cannot move them) run warm BEFORE
    * the 15-minute pipeline bench. Out of band => retry after a pause (a
    * burst usually passes); still out of band => the bench runs anyway (the
    * driver needs a JSON line) but the artifact is marked
    * "gated":"burst-rejected" and is written to BENCH_REJECTED.json, never
    * over the canonical BENCH_LATEST.json.
    *
    * Canonical warm bands at sf0.1/local[32] (BASELINE.md): q1_agg
    * 0.30-0.41 s, q19 0.13-0.16 s. Gate thresholds default to ~1.5x the
    * band top; the gate only arms on the canonical basis (sf0.1, 32 cpus)
    * unless thresholds are given explicitly via env. */
  private def sentinelMin(spark: SparkSession, sfDir: String, name: String): Double = {
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count() // untimed warm rep (cache/plan build)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  private[graft] case class SentinelReport(q1: Double, q19: Double, attempts: Int,
                                           q1Max: Double, q19Max: Double, armed: Boolean) {
    def pass: Boolean = !armed || (q1 <= q1Max && q19 <= q19Max)
    /** The headline's own sentinel readings are within the band. A missing
      * reading (the query failed) is out of band: it must not pass. */
    def inBand(rs: Seq[(String, Double)]): Boolean = {
      val m = rs.toMap
      !armed || (m.get("q1_agg").exists(_ <= q1Max) &&
        m.get("q19_running_sum").exists(_ <= q19Max))
    }
    def json: String =
      f""""sentinel":{"q1_agg":$q1%.3f,"q19_running_sum":$q19%.3f,"attempts":$attempts,"q1_max":$q1Max%.2f,"q19_max":$q19Max%.2f,"armed":$armed}"""
  }

  /** The data basis of a run: the basename of its sf directory. Matching
    * on the basename keeps `sf10` from passing for `sf1`. */
  private[graft] def basisOf(sfDir: String): String =
    Option(java.nio.file.Paths.get(sfDir).getFileName).map(_.toString).getOrElse(sfDir)

  /** Times each query once. A query that throws lands in the error list,
    * never among the timings: a crash must not shorten the total. */
  private[graft] def timeQueries(
      queries: Seq[(String, () => Unit)]): (Seq[(String, Double)], Seq[String]) = {
    val runs = queries.map { case (name, run) =>
      val t0 = System.nanoTime()
      try { run(); Right(name -> (System.nanoTime() - t0) / 1e9) }
      catch { case NonFatal(e) => Left(s"$name: $e") }
    }
    (runs.collect { case Right(r) => r }, runs.collect { case Left(e) => e })
  }

  /** Where the artifact lands. A rejected run (burst gate tripped or a
    * headline query failed) never replaces a canonical artifact. */
  private[graft] def artifactPath(rejected: Boolean, canonicalBasis: Boolean,
                                  env: Map[String, String]): String =
    if (rejected) env.getOrElse("SPARK_GRAFT_BENCH_REJECT_JSON", "BENCH_REJECTED.json")
    else env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      if (canonicalBasis) "BENCH_LATEST.json" else "BENCH_NONCANONICAL.json")

  /** The sf1-class basis: ScaleUpData's default destination
    * (`/dev/shm/graft-sf1`, the `sf` of BENCH_SF1.json) or a plain `sf1`. */
  private[graft] val Sf1Bases = Set("graft-sf1", "sf1")

  /** The burst gate of a run, before any reading: armed by default on the
    * sf0.1/32 and sf1/32 bases, or wherever a q1 band is given explicitly. */
  private[graft] def sentinelGate(sfDir: String, cpus: Int,
                                  env: Map[String, String]): SentinelReport = {
    val disabled = env.get("SPARK_GRAFT_SENTINEL_DISABLE").contains("1")
    val canonicalBasis = basisOf(sfDir) == "sf0.1" && cpus == 32
    // sf1 band seeded by the first sf1 artifact (BASELINE.md "sf1-class
    // canonical artifact": q1 0.80-1.17 s, q19 0.18-0.26 s warm) — armed by
    // default so the 10x basis gets the same burst protection as canonical
    val sf1Basis = Sf1Bases(basisOf(sfDir)) && cpus == 32
    val armed = !disabled &&
      (canonicalBasis || sf1Basis || env.contains("SPARK_GRAFT_SENTINEL_Q1_MAX"))
    val q1Max = env.getOrElse("SPARK_GRAFT_SENTINEL_Q1_MAX",
      if (sf1Basis) "1.80" else "0.62").toDouble
    val q19Max = env.getOrElse("SPARK_GRAFT_SENTINEL_Q19_MAX",
      if (sf1Basis) "0.40" else "0.30").toDouble
    SentinelReport(-1, -1, 0, q1Max, q19Max, armed)
  }

  private def runSentinels(sfDir: String, cpus: Int): SentinelReport = {
    val gate = sentinelGate(sfDir, cpus, sys.env)
    import gate.{armed, q1Max, q19Max}
    val maxAttempts = if (armed) 3 else 1
    val pauseSec = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_PAUSE_SEC", "45").toLong
    var attempt = 0
    var rep = gate
    while (attempt < maxAttempts && (attempt == 0 || !rep.pass)) {
      if (attempt > 0) Thread.sleep(pauseSec * 1000)
      attempt += 1
      rep = withSession(cpus) { spark =>
        gate.copy(q1 = sentinelMin(spark, sfDir, "q1_agg"),
          q19 = sentinelMin(spark, sfDir, "q19_running_sum"), attempts = attempt)
      }
      if (!rep.pass)
        System.err.println(f"[bench] sentinel attempt $attempt out of band: " +
          f"q1_agg ${rep.q1}%.3f (max $q1Max%.2f), q19 ${rep.q19}%.3f (max $q19Max%.2f)")
    }
    rep
  }

  def main(args: Array[String]): Unit = {
    // locale-stable float formatting for the JSON artifact
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // burst gate FIRST: don't spend the bench budget inside a noise window
    val sentinel = runSentinels(sfDir, cpus)
    val levels = ladder(cpus)
    val benchPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES",
      if (basisOf(sfDir) == "sf0.1") "40000" else "5000").toInt
    val shm = "/dev/shm/graft-bench"
    val pagesDir = s"$shm-pages"

    // untimed setup: full corpus parquet, then one JIT-warming leg on it
    materializeCorpus(cpus, benchPages, pagesDir)
    leg(cpus, pagesDir, s"$shm-warm")

    // INTERLEAVED best-of-N: host slowdowns come in multi-minute bursts, so
    // consecutive same-level runs share the same fate — cycling the levels
    // decorrelates the noise from any one level. 5 rounds by default: the
    // lowest level is the efficiency denominator and the noisiest (longest
    // wall time per round), so its best-of needs the most samples.
    val nRounds = math.max(sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "5").toInt, 1)
    // wall-clock guard: never let extra best-of rounds push the whole bench
    // past the budget (a killed bench emits NO json at all — worse than a
    // noisier best-of); at least 2 rounds always run
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "720").toLong
    val benchT0 = System.nanoTime()
    val rounds = (1 to nRounds).flatMap { i =>
      val elapsed = (System.nanoTime() - benchT0) / 1e9
      if (i > 2 && elapsed > budgetSec) None
      else Some(levels.map(c => leg(c, pagesDir, s"$shm-$c")))
    }
    val best = levels.indices.map(j => rounds.map(_(j)).minBy(_._2))
    graft.store.TableIO.deleteRecursively(pagesDir)
    val thr = best.map { case (triples, sec) => triples / sec }
    val triplesHigh = best.last._1

    // ---- headline queries at local[N] ----
    val headline = Seq("q1_agg", "q2_join_agg", "q6_window_latest", "q13_explode_tokens",
      "q19_running_sum", "d1_dedup_exact", "d3_minhash_lsh", "e1_ann_bruteforce",
      "kg_triples", "kg_step_nhash")
    val all = SparkEntry.queries
    // One headline phase = one fresh session, untimed KG-cache warmup, then
    // ONE timed rep per query (BASELINE.md "headline semantics", round 5):
    // the headline metric is QUERY latency over a built KG — the build
    // itself (scan→extract→link→CC→cache) is exactly what the three
    // pipeline legs above measure, so charging it AGAIN to whichever KG
    // query happens to run first double-counted ~1-1.5 s of build inside
    // kg_triples/kg_step_nhash. The encoded flat cache, component map, and
    // nhash seed frames (all pure functions of the built KG) materialize
    // outside every timed rep.
    def headlinePhase(): (Seq[(String, Double)], Seq[String]) =
      withSession(cpus) { spark =>
        val kt = Queries.kg(spark, sfDir)
        kt.flatEnc.count(); kt.components.count()
        Queries.nhashFrames(spark, sfDir)
        timeQueries(headline.flatMap { name =>
          all.get(name).map(fn => name -> (() => { fn(spark, sfDir).count(); () }))
        })
      }
    // Post-hoc audit WITH phase retry: the headline sentinels are
    // re-measured inside the phase itself (q1/q19 touch no KG cache, so
    // only host noise can move them) — a burst that starts AFTER the
    // pre-flight gate used to reject the whole ~50-minute run over its
    // one-shot ~2-minute tail (both sf1 attempts on 2026-08-20 died this
    // way while their burst-resistant interleaved pipeline legs were
    // clean). Give the headline phase the same chance the pipeline's
    // best-of-N already has: re-run the PHASE (pause, fresh session) up to
    // the pre-flight attempt budget, keeping per-query single-rep
    // semantics — a retry re-measures, it never takes a min over reps.
    val pauseSec = sys.env.getOrElse("SPARK_GRAFT_SENTINEL_PAUSE_SEC", "45").toLong
    // no retry when the pre-flight gate already failed: the run is routed
    // to the reject artifact regardless, so extra phases buy nothing
    val maxHeadline = if (sentinel.armed && sentinel.pass) 3 else 1
    var headlineAttempts = 1
    var phase = headlinePhase()
    while (!sentinel.inBand(phase._1) && headlineAttempts < maxHeadline) {
      val m = phase._1.toMap
      System.err.println(f"[bench] headline attempt $headlineAttempts out of band: " +
        f"q1_agg ${m.getOrElse("q1_agg", -1.0)}%.3f (max ${sentinel.q1Max}%.2f), " +
        f"q19 ${m.getOrElse("q19_running_sum", -1.0)}%.3f (max ${sentinel.q19Max}%.2f) — retrying phase")
      Thread.sleep(pauseSec * 1000)
      phase = headlinePhase()
      headlineAttempts += 1
    }
    val (results, errors) = phase

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val postHocBurst = !sentinel.inBand(results)
    val gated = !sentinel.pass || postHocBurst
    val gatedJson = if (gated) """"gated":"burst-rejected",""" else ""
    val errorsJson = errors.map(Json.quote).mkString("[", ",", "]")
    // per-round raw seconds: the host is a shared microVM with multi-minute
    // neighbor-noise bursts — the spread makes the best-of basis auditable
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    val roundsJson = arr(rounds.map(r => arr(r.map(l => f"${l._2}%.3f"))))
    val effJson = levels.indices.tail.map { j =>
      val eff = (thr(j) / thr(j - 1)) / (levels(j).toDouble / levels(j - 1))
      f""","scaling_efficiency_${levels(j - 1)}to${levels(j)}":$eff%.3f"""
    }.mkString
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",$gatedJson${sentinel.json},"headline_attempts":$headlineAttempts,"errors":$errorsJson,"queries":$qs,"sf":"$sfDir","pipeline":{"pages":$benchPages,"triples":$triplesHigh,"cores":${arr(levels.map(_.toString))},"sec":${arr(best.map(b => f"${b._2}%.3f"))},"round_sec":$roundsJson,"triples_per_sec":${arr(thr.map(t => f"$t%.1f"))}$effJson}}"""
    // the JSON must be machine-findable: sbt's logger prefixes every
    // println with "[info] ", which broke the round-1 driver parse — so
    // also (a) write it straight to fd 1, bypassing the redirected
    // System.out, as a clean prefix-free line, and (b) persist it to a file
    try {
      val fd = new java.io.FileOutputStream(java.io.FileDescriptor.out)
      // leading newline: the write lands raw on fd 1, possibly mid-line of
      // sbt's own terminal output — force a clean line start
      fd.write(("\n" + json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      fd.flush()
    } catch { case _: Throwable => () }
    // sbt -batch relays even raw fd-1 writes through its client with an
    // "[info] " prefix, so the FILE is the only guaranteed prefix-free
    // artifact; cwd under sbt is the project root (override via env).
    // A gated (burst-window) run NEVER replaces the canonical artifact —
    // it lands in BENCH_REJECTED.json for the audit trail instead. Nor does
    // a run off the canonical basis (sf0.1 / 32 cpus / 40k pages — the
    // round-3 incident was an sf0.01 smoke run landing on the canonical
    // path): those default to BENCH_NONCANONICAL.json unless the operator
    // names a path explicitly.
    val canonicalBasis = basisOf(sfDir) == "sf0.1" && cpus == 32 && benchPages == 40000
    val jsonPath = artifactPath(gated || errors.nonEmpty, canonicalBasis, sys.env)
    if (gated) System.err.println(
      s"[bench] burst gate tripped (pre-flight pass=${sentinel.pass}, " +
        s"post-hoc burst=$postHocBurst) — writing $jsonPath, canonical kept")
    errors.foreach(e => System.err.println(s"[bench] headline query failed: $e — writing $jsonPath"))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(jsonPath), json + "\n")
    catch { case _: Throwable => () }
    println(json)
  }
}
