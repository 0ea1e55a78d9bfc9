package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.util.Materialize

/** Iterative connected components over the entity same-as graph —
  * the global canonicalization fixpoint (north rule: "iterative
  * connected-components, hash-join label propagation, salted to kill skew").
  *
  * Pattern carried over from the reference's fixpoints (SURVEY.md §2.4):
  *   - monotone lattice join (min) with changed-count termination, like the
  *     reaching-defs worklist (jpanlib `ddg/DDGCreator.java:43-68`) and the
  *     dominator intersect loop (`dom/DominatorTree.java:118-140`);
  *   - frontier/visited-set BFS instead of path enumeration — the
  *     "massive optimization" comment at joern-lang `cfg.groovy:13-26`.
  *
  * Scale design:
  *   - label propagation shuffles only (id, label) pairs; the min-aggregate
  *     is partially aggregated map-side, so a hub entity (our head entity 0)
  *     never concentrates its messages on one reducer — plus an EXPLICIT
  *     two-level salted aggregation (`groupBy(id, salt).min → groupBy(id).min`)
  *     so the pattern survives engines/configs without partial agg;
  *   - each iteration repartitions by `id` so consecutive joins reuse the
  *     hash partitioning (no extra exchange for the label-vs-label compare);
  *   - lineage is truncated with localCheckpoint every iteration, otherwise
  *     the plan doubles per iteration and the driver dies long before 100 TB;
  *   - iterations ≈ graph diameter; same-as graphs are shallow (alias
  *     chains + hubs), and a cap guards runaway inputs like the reference's
  *     execution guard (`docs/source/performance.rst:109-127`).
  */
object ConnectedComponents {
  val MaxIterations = 50
  val SaltBuckets = 16

  /** Below this edge count the distributed fixpoint is pure fixed-latency
    * overhead (each iteration is several sub-second jobs regardless of core
    * count) — collect and union-find on the driver instead. The cutover is
    * the same adaptivity argument as AQE's broadcast-join demotion: pick the
    * physical strategy by observed size, keep the logical result identical.
    * At 10^12-document scale the entity graph blows past this and the salted
    * distributed path takes over. */
  val LocalCutover = 2000000L

  /** Strategy-adaptive CC: identical output on either path (tested). The
    * chosen path reads one pin of the input, and the job that fills the
    * pin also counts it; neither path's result reads the pin (a
    * driver-built relation, a checkpointed round). */
  def auto(spark: SparkSession, edges: DataFrame,
           cutover: Long = LocalCutover): DataFrame = Materialize.withPins { pins =>
    import spark.implicits._
    val e = pins(edges.toDF("a", "b").filter($"a" =!= $"b"))
    // the pin's own count decides the strategy without shipping rows —
    // collecting cutover+1 pairs (~32 MB) to the driver just to discard them
    // on the distributed path would couple the cutover constant to driver
    // memory; only the genuinely-small path pulls data (≤ cutover rows)
    if (e.count <= cutover) {
      val uf = new LocalUnionFind
      e.df.as[(Long, Long)].collect().foreach { case (a, b) => uf.union(a, b) }
      uf.components.toSeq.toDF("id", "component")
    } else run(spark, e.df)
  }

  /** Driver-side union-find with path compression (the small-graph path and
    * the test oracle — same algorithm as the reference's in-memory fixpoints). */
  final class LocalUnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    // iterative find + full path compression: recursion overflowed the
    // driver stack on long chains (up to 2M edges take this path)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
    }
    def components: Map[Long, Long] = {
      parent.keys.toSeq.foreach(find(_))
      val all = parent.keySet ++ parent.values
      all.map(x => x -> find(x)).toMap
    }
  }

  /** edges: DataFrame with two long columns (a, b), undirected pairs.
    * Returns (id, component) where component = min id reachable. */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = MaxIterations): DataFrame = {
    import spark.implicits._
    val e = edges.toDF("a", "b").filter($"a" =!= $"b")
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .distinct()

    // two copies of the edge set, each hash-partitioned by its join key ONCE:
    // every iteration's label joins then satisfy EnsureRequirements from the
    // cache (no per-iteration exchange of the edges — only (id,label) moves)
    val ea = e.repartition($"a").persist(StorageLevel.MEMORY_AND_DISK)
    val eb = e.repartition($"b").persist(StorageLevel.MEMORY_AND_DISK)

    var labels = ea.select($"a".as("id")).union(eb.select($"b".as("id")))
      .distinct()
      .withColumn("label", $"id")
      .repartition($"id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the frame `labels` projects: the superseded round's materialization
    // is released through it (a checkpointed frame ignores unpersist)
    var pinned: DataFrame = labels

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // propagate: each edge endpoint offers its label to the other side
      val la = ea.join(labels.withColumnRenamed("id", "a"), "a")
        .select($"b".as("id"), $"label")
      val lb = eb.join(labels.withColumnRenamed("id", "b"), "b")
        .select($"a".as("id"), $"label")
      // two-level salted min: (id, salt) partial → id total (explicit skew
      // kill). The salt must be DATA-INDEPENDENT: hashing the label stops
      // spreading once a hub's neighbors converge to one label — the source
      // partition id spreads regardless, and the min-aggregate result is
      // partition-invariant so determinism is unaffected
      val offered = la.union(lb)
        .withColumn("salt", pmod(spark_partition_id(), lit(SaltBuckets)))
        .groupBy($"id", $"salt").agg(min($"label").as("label"))
        .groupBy($"id").agg(min($"label").as("label"))
      val prop = labels.join(offered.withColumnRenamed("label", "offered"), Seq("id"), "left")
        .select($"id", $"label".as("old"),
          least($"label", coalesce($"offered", $"label")).as("label"))
      // pointer jumping (path halving): also adopt my label's OWN label —
      // min-monotone, so still correct, and rounds drop from O(diameter) to
      // O(log diameter); costs one extra keyed join per round
      val jump = labels.select($"id".as("label"), $"label".as("label2"))
      // ONE materialization per iteration (Materialize.iterate: eager
      // localCheckpoint, or a reliable checkpoint every Nth round when
      // spark.graft.reliableCheckpointInterval is set — cluster fault story);
      // it truncates lineage and preserves the id-hash partitioning, and the
      // changed-count then reads the materialized blocks
      val newLabels = Materialize.iterate(
        prop.join(jump, Seq("label"), "left")
          .select($"id", $"old",
            least($"label", coalesce($"label2", $"label")).as("label"))
          .withColumn("changed", $"label" < $"old")
          .drop("old")
          .repartition($"id"), iter)
      val changed = newLabels.filter($"changed").count() // ≙ DDGCreator's changedNodes
      Materialize.release(pinned)
      pinned = newLabels
      labels = newLabels.drop("changed")
      converged = changed == 0
      iter += 1
    }
    ea.unpersist(false); eb.unpersist(false)
    labels.toDF("id", "component")
  }
}
