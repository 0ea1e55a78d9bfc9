package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Incremental, Pipeline}
import graft.model.PageGen
import graft.store.TableIO
import graft.util.Sessions

/** The crash/retry contract of the INCREMENTS, demonstrated under real
  * executor loss — the multi-JVM companion to [[ClusterFaultProbe]] (which
  * covers the iterative fixpoints) and to StoreSpec's single-JVM
  * crash/resume tests.
  *
  * Run under `--master local-cluster[2,4,4096]` (forked executor JVMs). The
  * probe `kill -9`s one executor JVM MID-append and MID-takedown and
  * asserts the documented contract: the increment either completes anyway
  * (Spark's stage retry — the increment jobs keep recomputable lineage) or
  * the job fails like a crashed driver would, and a blind RE-RUN of the
  * same increment converges — every table bit-identical to the unkilled
  * twin, which itself equals the from-scratch rebuild. This is exactly the
  * BASELINE.md resumability target ("kill/resume test asserting identical
  * final tables") executed across real process boundaries: manifest-swap
  * atomicity, all-or-nothing per-table resume detection, and the
  * presence-anchor ordering are what the assertion rests on.
  *
  *   spark-submit --master 'local-cluster[2,4,4096]' --driver-memory 8g \
  *     --class graft.tools.IngestFaultProbe <jar> [nPages] [killFrac]
  *
  * (Run it alone: the killer scans /proc for this app's executor JVMs.)
  */
object IngestFaultProbe {

  private def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src); val d = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  private val Tables = Seq("triples", "nodes", "edges", "components",
    "sameas_evidence", "entity_refcounts")

  /** Order-free content fingerprint per table: (xor of row hashes, rows).
    * The refcount DELTA LOG is aggregate-equivalent, not byte-equivalent —
    * fingerprint its folded view (sum per entity, zeros dropped). */
  private def tableHash(spark: SparkSession, dir: String, tbl: String): (Long, Long) = {
    val raw = TableIO.read(spark, s"$dir/$tbl")
    val df =
      if (tbl == "entity_refcounts")
        raw.groupBy("id").agg(sum("n").as("n")).filter(col("n") =!= 0L)
      else raw
    val r = df.agg(expr("bit_xor(xxhash64(to_json(struct(*))))"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val nPages = if (args.length > 0) args(0).toInt else 6000
    val killFrac = if (args.length > 1) args(1).toDouble else 0.45
    // spark-submit sets the local-cluster master; 16 is the shuffle width
    val spark = Sessions.local("graft-ingest-fault-probe", 16)
    require(spark.sparkContext.master.startsWith("local-cluster"),
      "IngestFaultProbe needs --master local-cluster[...] (forked executor JVMs)")
    val appId = spark.sparkContext.applicationId
    import spark.implicits._

    val cfg = PageGen.Config(nPages = nPages)
    val split = (nPages * 3L) / 5L
    def pages(lo: Long, hi: Long) = spark.range(lo, hi).map(i => PageGen.page(cfg, i))
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-ifp-$tag").toString

    def build(lo: Long, hi: Long, dir: String): Unit = {
      val t = Pipeline.run(spark, pages(lo, hi), cfg.nPersons)
      Pipeline.materialize(spark, t, dir)
      t.flatEnc.unpersist(false); t.components.unpersist(false)
    }

    def killOne(): Unit = {
      val pids = ClusterFaultProbe.executorPids(appId)
      if (pids.nonEmpty) {
        Runtime.getRuntime.exec(Array("kill", "-9", pids.head.toString)).waitFor()
        println(s"[ifault] killed executor pid=${pids.head} " +
          s"(of ${pids.size}) at ${java.time.Instant.now()}")
      } else println("[ifault] WARNING: no executor JVM found to kill")
    }

    /** Run `op` with a kill landing at killFrac of `baselineWall`; on job
      * failure re-run it blind (the crashed-driver retry), up to 3 times. */
    def withKill[A](baselineWall: Double)(op: => A): (A, Boolean, Int) = {
      @volatile var done = false
      val killer = new Thread(() => {
        Thread.sleep(math.max((baselineWall * killFrac * 1000).toLong, 500L))
        if (!done) killOne()
      })
      killer.setDaemon(true); killer.start()
      var failed = 0
      var out: Option[A] = None
      while (out.isEmpty) {
        try out = Some(op)
        catch {
          case e: Throwable if failed < 3 =>
            failed += 1
            val root = Option(e.getCause).getOrElse(e)
            println(s"[ifault] increment FAILED after kill (attempt $failed) — " +
              s"${root.getClass.getSimpleName}: " +
              s"${String.valueOf(root.getMessage).linesIterator.take(1).mkString} — retrying blind")
        }
      }
      done = true; killer.join(500)
      (out.get, failed == 0, failed)
    }

    println(s"[ifault] nPages=$nPages split=$split killFrac=$killFrac " +
      s"master=${spark.sparkContext.master}")

    // ground truths: the full-corpus rebuild and the base-only rebuild
    val full = tmp("full"); val base = tmp("base")
    build(0, nPages, full)
    build(0, split, base)
    val wantFull = Tables.map(t => t -> tableHash(spark, full, t)).toMap
    val wantBase = Tables.map(t => t -> tableHash(spark, base, t)).toMap

    // unkilled twin append — sanity + the kill-timing wall
    val twin = tmp("twin"); copyDir(base, twin)
    val t0 = System.nanoTime()
    Incremental.appendPages(spark, pages(split, nPages), twin, cfg.nPersons)
    val appendWall = (System.nanoTime() - t0) / 1e9
    Tables.foreach { t =>
      val got = tableHash(spark, twin, t)
      assert(got == wantFull(t), s"unkilled append diverged on $t: $got vs ${wantFull(t)}")
    }
    println(f"[ifault] unkilled append: wall=$appendWall%.1fs, all 6 tables == full rebuild")

    // KILLED append: one executor dies mid-increment
    val dirK = tmp("killed-append"); copyDir(base, dirK)
    val (_, survived, retries) = withKill(appendWall) {
      Incremental.appendPages(spark, pages(split, nPages), dirK, cfg.nPersons)
    }
    Tables.foreach { t =>
      val got = tableHash(spark, dirK, t)
      assert(got == wantFull(t), s"killed append diverged on $t: $got vs ${wantFull(t)}")
    }
    println(s"[ifault] killed append: " +
      (if (survived) "completed THROUGH the kill (stage retry)"
       else s"failed, converged after $retries blind retr${if (retries == 1) "y" else "ies"}") +
      " — all 6 tables == full rebuild")

    // unkilled twin takedown — the removal-timing wall
    val twinR = tmp("twin-rm"); copyDir(full, twinR)
    val t1 = System.nanoTime()
    Incremental.removePages(spark, pages(split, nPages), pages(0, split), twinR, cfg.nPersons)
    val removeWall = (System.nanoTime() - t1) / 1e9
    Tables.foreach { t =>
      val got = tableHash(spark, twinR, t)
      assert(got == wantBase(t), s"unkilled remove diverged on $t: $got vs ${wantBase(t)}")
    }
    println(f"[ifault] unkilled takedown: wall=$removeWall%.1fs, all 6 tables == base rebuild")

    // KILLED takedown
    val dirKR = tmp("killed-rm"); copyDir(full, dirKR)
    val (_, survivedR, retriesR) = withKill(removeWall) {
      Incremental.removePages(spark, pages(split, nPages), pages(0, split), dirKR, cfg.nPersons)
    }
    Tables.foreach { t =>
      val got = tableHash(spark, dirKR, t)
      assert(got == wantBase(t), s"killed remove diverged on $t: $got vs ${wantBase(t)}")
    }
    println(s"[ifault] killed takedown: " +
      (if (survivedR) "completed THROUGH the kill (stage retry)"
       else s"failed, converged after $retriesR blind retr${if (retriesR == 1) "y" else "ies"}") +
      " — all 6 tables == base rebuild")

    Seq(full, base, twin, dirK, twinR, dirKR).foreach(TableIO.deleteRecursively)
    println("[ifault] PASS: executor loss mid-append and mid-takedown converges " +
      "to the rebuild bit-identically (manifest atomicity + per-table resume)")
    spark.stop()
  }
}
