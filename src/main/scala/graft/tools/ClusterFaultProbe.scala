package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Sessions

/** The cluster fault story, DEMONSTRATED instead of argued.
  *
  * Run under `--master 'local-cluster[2,4,4096]'` — Spark's standalone
  * cluster simulator: a real Master/Worker pair with every executor in its
  * OWN forked JVM, the closest thing to a multi-node cluster this sandbox
  * allows (separate block managers, real shuffle fetches over the wire,
  * executor loss = process death). The probe:
  *
  *  1. runs the distributed fixpoint (CC, integer PageRank or the k-core
  *     peel) clean with
  *     `spark.graft.reliableCheckpointInterval=3` + a durable checkpoint
  *     dir → baseline wall + a bit_xor content hash;
  *  2. runs it again and `kill -9`s one executor JVM mid-fixpoint (after
  *     the first reliable snapshot lands, mid-round) → asserts the job
  *     COMPLETES with a bit-identical hash, and reports the recovery
  *     overhead vs baseline. Survival is exactly the
  *     [[graft.util.Materialize]] contract: between-snapshot rounds are
  *     persisted with their lineage intact, so Spark's own task retry
  *     re-derives lost blocks from the last reliable snapshot (which lives
  *     in the checkpoint DIR, not on the dead executor);
  *  3. runs the NEGATIVE: the same kill with the interval OFF (pure
  *     localCheckpoint rounds) must FAIL the job — the lineage is severed
  *     and the lost blocks are unrecoverable. This is the difference
  *     between arguing the 100-TB recovery story and showing it.
  *
  *   spark-submit --master 'local-cluster[2,4,4096]' --driver-memory 4g \
  *     --class graft.tools.ClusterFaultProbe <jar> [cc|pagerank|kcore] [nSpokes]
  *
  * (Run it alone: the kill scans /proc for this app's
  * CoarseGrainedExecutorBackend JVMs, filtered by the Spark app id.)
  */
object ClusterFaultProbe {

  private[tools] def executorPids(appId: String): Seq[Int] =
    new java.io.File("/proc").listFiles().toSeq
      .filter(f => f.getName.forall(_.isDigit))
      .filter { f =>
        try {
          val cmd = new String(
            java.nio.file.Files.readAllBytes(f.toPath.resolve("cmdline")), "UTF-8")
          cmd.contains("CoarseGrainedExecutorBackend") && cmd.contains(appId)
        } catch { case _: Exception => false }
      }
      .map(_.getName.toInt).sorted

  private def hasSnapshotFiles(dir: String): Boolean =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.anyMatch(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      finally s.close()
    } catch { case _: Exception => false }

  def main(args: Array[String]): Unit = {
    val kernel = if (args.length > 0) args(0) else "cc"
    val nSpokes = if (args.length > 1) args(1).toLong else 1500000L
    // spark-submit sets the local-cluster master; 16 is the shuffle width
    val spark = Sessions.local("graft-cluster-fault-probe", 16)
    val appId = spark.sparkContext.applicationId

    // adversarial-but-recomputable input: mega-hub star + disjoint chains
    // (diameter driver, forces several label-propagation rounds). Generated
    // from spark.range so the lineage below the fixpoint is replayable —
    // exactly what a parquet scan gives the real pipeline.
    val base = 1000000000L
    val chainLen = 16L
    val nChainNodes = 800000L
    def edges: DataFrame = {
      val star = spark.range(1, nSpokes + 1).select(lit(0L).as("a"), col("id").as("b"))
      val chains = spark.range(nChainNodes)
        .filter(col("id") % chainLen < chainLen - 1)
        .select((col("id") + base).as("a"), (col("id") + base + 1).as("b"))
      star.unionByName(chains)
    }

    /** One measured fixpoint run: returns (contentHash, rows, wallSec). */
    def runOnce(interval: Int, killPlan: Option[Boolean => Unit]): (Long, Long, Double) = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-fault-ckpt").toString
      spark.sparkContext.setCheckpointDir(ckpt)
      spark.conf.set(graft.util.Materialize.IntervalKey, interval.toString)
      @volatile var doneFlag = false
      val killer = killPlan.map { k =>
        val t = new Thread(() => {
          // with snapshots on, fire after the FIRST reliable snapshot lands
          // (mid-fixpoint by construction); without, fire on a fixed delay
          // chosen well inside the baseline wall
          if (interval > 0) { while (!doneFlag && !hasSnapshotFiles(ckpt)) Thread.sleep(200) }
          else Thread.sleep(8000)
          Thread.sleep(1500) // land mid-round, not at the snapshot boundary
          if (!doneFlag) k(true)
        })
        t.setDaemon(true); t.start(); t
      }
      val t0 = System.nanoTime()
      try {
        val directed = edges.select(col("a").as("src"), col("b").as("dst"))
        val out = kernel match {
          case "pagerank" => graft.query.GraphAnalytics.pageRankInt(directed, iters = 8)
            .select(col("id"), col("rank").as("component"))
          // each chain's back half closes into a ring: the 2-core is the
          // rings, reached after one peel round per tail node
          case "kcore" => graft.query.GraphAnalytics.kCore(directed.unionByName(
            spark.range(chainLen - 1, nChainNodes, chainLen).select((col("id") + base).as("src"),
              (col("id") + base + 1 - chainLen / 2).as("dst"))), k = 2)
            .select(col("id"), col("deg").as("component"))
          case _ => graft.canon.ConnectedComponents.auto(spark, edges, cutover = 0L)
        }
        val r = out.agg(
          expr("bit_xor(xxhash64(id, component))"), count(lit(1))).head()
        val wall = (System.nanoTime() - t0) / 1e9
        (r.getLong(0), r.getLong(1), wall)
      } finally {
        doneFlag = true
        killer.foreach(_.join(500))
        spark.conf.set(graft.util.Materialize.IntervalKey, "0")
        graft.store.TableIO.deleteRecursively(ckpt)
      }
    }

    def killOne(log: Boolean): Unit = {
      val pids = executorPids(appId)
      if (pids.nonEmpty) {
        Runtime.getRuntime.exec(Array("kill", "-9", pids.head.toString)).waitFor()
        if (log) println(s"[fault] killed executor pid=${pids.head} " +
          s"(of ${pids.size} executor JVMs) at ${java.time.Instant.now()}")
      } else println("[fault] WARNING: no executor JVM found to kill")
    }

    println(s"[fault] kernel=$kernel spokes=$nSpokes master=${spark.sparkContext.master}")
    require(spark.sparkContext.master.startsWith("local-cluster"),
      "ClusterFaultProbe needs --master local-cluster[...] (forked executor JVMs)")

    // 1. clean baseline under the interval — run twice, keep the WARM wall
    // (the first run pays executor spin-up + JIT; without the warm-up the
    // "recovery overhead" read negative)
    val (_, _, wCold) = runOnce(interval = 3, killPlan = None)
    val (h0, n0, w0) = runOnce(interval = 3, killPlan = None)
    println(f"[fault] baseline: rows=$n0 hash=$h0 wall=$w0%.1fs " +
      f"(interval=3, no kill; cold first run $wCold%.1fs discarded)")

    // 2. kill one executor mid-fixpoint — must complete, bit-identical
    val (h1, n1, w1) = runOnce(interval = 3, killPlan = Some(killOne))
    val identical = h1 == h0 && n1 == n0
    println(f"[fault] killed-run: rows=$n1 hash=$h1 wall=$w1%.1fs " +
      f"recoveryOverhead=${w1 - w0}%.1fs (${(w1 / w0 - 1) * 100}%.0f%%) identical=$identical")
    assert(identical, s"FAULT STORY BROKEN: killed run differs (h0=$h0 h1=$h1 n0=$n0 n1=$n1)")

    // 3. negative control: same kill, interval OFF -> severed lineage must
    // fail the job (if it completes, the kill landed too late — report
    // honestly rather than asserting)
    try {
      val (h2, n2, w2) = runOnce(interval = 0, killPlan = Some(killOne))
      println(f"[fault] negative: completed rows=$n2 hash=$h2 wall=$w2%.1fs — " +
        "kill landed after the last localCheckpoint read (inconclusive)")
    } catch {
      case e: Throwable =>
        val root = Option(e.getCause).getOrElse(e)
        println(s"[fault] negative: job FAILED as expected without the interval — " +
          s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).linesIterator.take(1).mkString}")
    }
    println("[fault] PASS: executor loss mid-fixpoint recovered bit-identically " +
      "with reliableCheckpointInterval=3; unrecoverable without it")
    spark.stop()
  }
}
