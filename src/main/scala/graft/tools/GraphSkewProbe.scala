package graft.tools

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Adversarial-skew battery for the graph-analytics kernels (the CcBench
  * twin for GraphAnalytics): a WHEEL graph — one mega-hub adjacent to ALL n
  * spokes (half the spoke edges point in, half out, so both the high
  * in-degree contribution sum and the high out-degree rank fan-out are
  * exercised) plus the rim chain spoke(i)—spoke(i+1).
  *
  * Why this shape: the hub is the degenerate key for BOTH kernels. PageRank
  * funnels n contributions into one dst key — absorbed by map-side partial
  * aggregation, never one task. Triangle counting would enumerate C(n,2)
  * wedges AT the hub under naive pairing; degree-ordered orientation makes
  * the hub the ≺-max endpoint of every incident edge, so it expands ZERO
  * wedges, and each spoke (deg 3) expands ≤ 3. Closed form: every rim edge
  * closes exactly one triangle with the hub → n−1 triangles, checked
  * distributed-side.
  *
  * The `kcore` mode peels a pendant-heavy wheel (rim only over the first
  * half of the spokes): the weak set of round one is n/2 NODES — the
  * worst case for the anti-join rounds (the "weak set is tiny" fast path
  * does not hold) — and the survivor count has the closed form n/2 + 1.
  * Note the synchronous peel's round count equals the graph's peeling
  * depth (a pure path graph of length L needs ~L/2 rounds); web-shaped
  * graphs have small peeling depth, which is the regime this kernel is
  * for.
  *
  * The `sameas` mode is the hub-witness kill test: on the wheel, the hub is
  * a neighbor of EVERY spoke, so as a witness it alone would emit
  * C(n,2) ≈ 1.25e13 candidate pairs at n=5M — the job only terminates
  * because the degree-capped anti-join drops it. With the hub dropped each
  * spoke witness (deg 3) emits ≤ 3 pairs, and the (0, interior-spoke) pairs
  * are exactly the ones with inter=2 → closed form n−2 candidates.
  *
  * The `hits`/`communities` modes exercise the same mega-hub key through
  * the gather-sum and histogram groupBys (partial-agg absorption; sanity:
  * the hub is the top authority — half the spokes point at it).
  *
  *   runMain graft.tools.GraphSkewProbe [nSpokes] [cores] [pagerank|triangles|kcore|hits|communities|sameas|scc|all]
  */
object GraphSkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 5000000L
    val cores = if (args.length > 1) args(1).toInt else 32
    val op = if (args.length > 2) args(2) else "all"
    val spark = Sessions.local("graft-graph-skew-probe", cores)
    try {
      val half = n / 2
      val in = spark.range(1, half + 1).select(col("id").as("src"), lit(0L).as("dst"))
      val out = spark.range(half + 1, n + 1).select(lit(0L).as("src"), col("id").as("dst"))
      val rim = spark.range(1, n).select(col("id").as("src"), (col("id") + 1).as("dst"))
      val edges = in.unionByName(out).unionByName(rim)
      def run(label: String)(f: => String): Unit = {
        val t0 = System.nanoTime()
        val extra = f
        val sec = (System.nanoTime() - t0) / 1e9
        println(String.format(java.util.Locale.ROOT,
          "[graphskew] op=%s nSpokes=%d sec=%.2f %s", label, n, sec, extra))
      }
      if (op == "pagerank" || op == "all") run("pagerank") {
        val pr = graft.query.GraphAnalytics.pageRankInt(edges, iters = 10)
        val rows = pr.count()
        val hub = pr.filter(col("id") === 0L).head().getLong(1)
        s"nodes=$rows hubRank=$hub"
      }
      if (op == "kcore" || op == "all") run("kcore") {
        val rimHalf = spark.range(1, half)
          .select(col("id").as("src"), (col("id") + 1).as("dst"))
        val kc = graft.query.GraphAnalytics.kCore(
          in.unionByName(out).unionByName(rimHalf), k = 2)
        val survivors = kc.count()
        s"survivors=$survivors expected=${half + 1} ok=${survivors == half + 1}"
      }
      if (op == "hits" || op == "all") run("hits") {
        val h = graft.query.GraphAnalytics.hitsInt(edges, iters = 8)
        val rows = h.count()
        val hubAuth = h.filter(col("id") === 0L).head().getLong(2)
        val topAuth = h.agg(max("auth")).head().getLong(0)
        s"nodes=$rows hubAuth=$hubAuth topIsHub=${hubAuth == topAuth}"
      }
      if (op == "communities" || op == "all") run("communities") {
        val lp = graft.query.GraphAnalytics.labelPropagation(edges, iters = 5)
        val nComm = lp.select("label").distinct().count()
        s"nodes+hub communities=$nComm"
      }
      if (op == "sameas" || op == "all") run("sameas") {
        val sa = graft.query.GraphAnalytics.sameAsCandidates(
          edges, minInter = 2, jacNum = 0, jacDen = 1)
        val cands = sa.count()
        s"candidates=$cands expected=${n - 2} ok=${cands == n - 2}"
      }
      if (op == "scc" || op == "all") run("scc") {
        // different shape: SCC needs cycles. Bidirected hub (hub ↔ every
        // spoke) = one giant SCC of n+1 nodes with diameter 2 (the web
        // core's regime), plus n/10 pendant feeders (n+i → 0) that the
        // trim pass must remove in ONE round. The mega-hub is the
        // wavefront key: its n reach contributions collapse map-side.
        val m = n / 10
        val toHub = spark.range(1, n + 1).select(col("id").as("src"), lit(0L).as("dst"))
        val fromHub = spark.range(1, n + 1).select(lit(0L).as("src"), col("id").as("dst"))
        val feeders = spark.range(n + 1, n + m + 1).select(col("id").as("src"), lit(0L).as("dst"))
        val sccRes = graft.query.GraphAnalytics.scc(
          toHub.unionByName(fromHub).unionByName(feeders))
        val giant = sccRes.filter(col("scc") === 0L).count()
        val singles = sccRes.filter(col("scc") =!= 0L).count()
        s"giant=$giant expected=${n + 1} singles=$singles expectedSingles=$m ok=${giant == n + 1 && singles == m}"
      }
      if (op == "triangles" || op == "all") run("triangles") {
        val tc = graft.query.GraphAnalytics.triangleCounts(edges)
        val total = tc.agg(sum("triangles")).head().getLong(0)
        val expect = 3L * (n - 1) // each of the n−1 triangles touches 3 nodes
        s"triangleIncidences=$total expected=$expect ok=${total == expect}"
      }
    } finally spark.stop()
  }
}
