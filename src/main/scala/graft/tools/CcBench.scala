package graft.tools

import org.apache.spark.sql.functions._

import graft.util.Sessions

/** Scale stress for the distributed CC fixpoint:
  * `runMain graft.tools.CcBench [nSpokes] [nChains] [chainLen] [cores]`.
  *
  * Graph shape = the adversarial canonicalization input: one mega-hub
  * (head entity) with `nSpokes` spokes — the skew the salted two-level min
  * exists for — plus `nChains` disjoint chains of length `chainLen` (the
  * diameter driver: label propagation needs ~chainLen iterations).
  * Edges are generated distributed-side (spark.range), never collected;
  * correctness is spot-checked distributed-side too.
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val nSpokes = if (args.length > 0) args(0).toLong else 2500000L
    val nChains = if (args.length > 1) args(1).toLong else 100000L
    val chainLen = if (args.length > 2) args(2).toInt else 8
    val cores = if (args.length > 3) args(3).toInt else 32
    val spark = Sessions.local("graft-ccbench", cores)
    import spark.implicits._

    // hub 0 -> spokes 1..nSpokes (one mega component, max skew)
    val star = spark.range(1, nSpokes + 1).select(lit(0L).as("a"), col("id").as("b"))
    // chains: node ids offset to 1e9; edge (n, n+1) within each chain
    val base = 1000000000L
    val chains = spark.range(nChains * chainLen)
      .select((col("id") % chainLen).cast("long").as("pos"), col("id"))
      .filter(col("pos") < chainLen - 1)
      .select((col("id") + base).as("a"), (col("id") + base + 1).as("b"))
    val edges = star.unionByName(chains)

    val nEdges = edges.count()
    val t0 = System.nanoTime()
    val cc = graft.canon.ConnectedComponents.auto(spark, edges, cutover = 0L)
      .persist()
    val nNodes = cc.count()
    val sec = (System.nanoTime() - t0) / 1e9

    // distributed spot-checks: star collapses to 0; every chain to its head
    val starBad = cc.filter(col("id") <= nSpokes && col("component") =!= 0L).count()
    val chainBad = cc.filter(col("id") >= base)
      .withColumn("expect", floor((col("id") - base) / chainLen) * chainLen + base)
      .filter(col("component") =!= col("expect")).count()
    val nComponents = cc.select("component").distinct().count()

    println(f"[ccbench] cores=$cores edges=$nEdges nodes=$nNodes " +
      f"sec=$sec%.2f components=$nComponents starViolations=$starBad chainViolations=$chainBad")
    spark.stop()
  }
}
