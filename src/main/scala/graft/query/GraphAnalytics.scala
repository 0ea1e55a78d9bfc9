package graft.query

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.util.Materialize

/** Whole-graph analytics over the canonical entity graph — the KG-consumer
  * side the reference's degree/neighborhood steps point at, taken to the two
  * canonical web-scale kernels: PageRank (entity salience) and triangle
  * counting (local clustering). Both are beyond the reference's own step
  * library (its closest analogs are the degree lookups in
  * `joern-lang/misc.groovy` and the NH-kernel feature vectors), and both are
  * designed driver-hashable: no floating-point accumulation anywhere.
  *
  * Scale shape:
  *  - PageRank: per-iteration cost is one zip of the node state with the
  *    co-partitioned edge pin plus one map-side-combined sum per dst — a
  *    hub entity's huge in-degree is absorbed by the combiners, never by
  *    one task. Exact INTEGER fixed-point arithmetic (`div`, long sums)
  *    makes the result independent of aggregation order, so a second
  *    engine can re-derive it bit-exactly — float PageRank cannot be
  *    hash-compared.
  *  - Triangles: edges oriented low→high (degree, id) endpoint; wedges are
  *    enumerated only at each edge's ≺-smaller vertex, which bounds
  *    per-vertex pair expansion by the oriented out-degree (≤ O(√m)
  *    amortized — the arboricity argument), so the mega-hub contributes no
  *    quadratic bucket. Closure is one equi-join against the undirected
  *    edge set. No window functions anywhere in either kernel.
  *
  * The query kernels (PageRank and the BFS behind `slice`, `path` and the
  * SCC/bow-tie reach) run as co-partitioned RDD rounds. At query sizes their
  * cost is per-job overhead, not data: a small DataFrame action costs two to
  * four times an RDD job (BASELINE.md), and under AQE a pinned frame loses
  * its partitioning, so DataFrame rounds re-shuffle the edge side every
  * round. Each kernel turns its edge input
  * once into an RDD hash-partitioned by the hop key and pins it; every round
  * zips its state with that pin partition by partition (a narrow
  * dependency), streaming the partition's edges against a hash map of the
  * partition's state — no per-node adjacency list, so a hub's edge list is
  * never held in memory — and pays one real shuffle, a map-side-combined
  * reduce. Every pin a kernel makes is released except the one backing its
  * result.
  */
object GraphAnalytics {

  /** The canonical directed entity graph as (src, dst): entity→entity
    * triples only (obj ≥ 0 — literal objects carry negative slots). The
    * ONE projection every analytics entry/verb runs over. */
  def entityEdges(triples: DataFrame): DataFrame =
    triples.filter(col("obj") >= 0)
      .select(col("subj").as("src"), col("obj").as("dst"))

  /** Exact integer fixed-point PageRank, optionally personalized.
    *
    * Semantics (mirrored verbatim by the DuckDB oracle, all `Long` ops;
    * S = seed set, defaulting to ALL graph nodes = classic PageRank):
    *   perSeed  = totalMass div |S|
    *   base(i)  = perSeed * 15 div 100  if i ∈ S, else 0
    *   r0(i)    = perSeed               if i ∈ S, else 0
    *   r{t+1}(i) = base(i) + (85 * Σ_{j→i} (r_t(j) div outdeg(j))) div 100
    *
    * With seeds, teleport mass returns only to S — the "entities related to
    * X" relatedness query. Dangling mass evaporates (standard
    * simplification; deterministic). Magnitudes: every rank ≤ totalMass and
    * every contribution sum ≤ totalMass, so 85 * sum ≤ 8.5e16 <
    * Long.MaxValue for the default mass — no overflow at any node count,
    * because mass only shrinks.
    *
    * Iterations materialize via [[graft.util.Materialize.iterate]] (reliable
    * checkpoint every Nth round under `spark.graft.reliableCheckpointInterval`
    * — same cluster-fault story as the CC fixpoint).
    */
  def pageRankInt(edges: DataFrame, iters: Int = 10,
                  totalMass: Long = 1000000000000000L,
                  seeds: Option[DataFrame] = None): DataFrame = {
    // the returned frame reads its OWN pin (every input pin is released
    // below); with zero rounds it would still read them
    require(iters >= 1, "pageRankInt: iters must be >= 1")
    val spark = edges.sparkSession
    val part = hopPartitioner(spark)
    val e = hopPin(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct(), part)
    // node → (outdeg, isSeed) in one map-side-combined reduce over both
    // endpoints of every edge (every node is a seed when none are given);
    // a seed id counts only if it is a graph node
    val all = seeds.isEmpty
    val ends: RDD[(Long, (Long, Boolean, Boolean))] = e.flatMap { case (s, d) =>
      Iterator((s, (1L, true, all)), (d, (0L, true, all)))
    }
    val flagged = seeds.fold(ends) { sd =>
      ends.union(sd.select(col("id")).rdd.map(r => (r.getLong(0), (0L, false, true))))
    }
    val info = flagged
      .reduceByKey(part, (a, b) => (a._1 + b._1, a._2 || b._2, a._3 || b._3))
      .filter(_._2._2).mapValues { case (outdeg, _, isSeed) => (outdeg, isSeed) }
    val nNodes = Materialize.pin(spark, info)
    // one bounded driver scalar (like the CC probe); free without seeds
    val nSeeds = if (seeds.isEmpty) nNodes else info.filter(_._2._2).count()
    if (nSeeds == 0L) { e.unpersist(false); info.unpersist(false) }
    require(nSeeds > 0, "pageRankInt: empty graph or no seed is a graph node")
    val perSeed = totalMass / nSeeds
    val base = perSeed * 15L / 100L
    // node → (rank, outdeg, base)
    var ranks = info.mapValues { case (outdeg, isSeed) =>
      if (isSeed) (perSeed, outdeg, base) else (0L, outdeg, 0L)
    }
    for (i <- 0 until iters) {
      val next = prRound(e, ranks, part)
      Materialize.iterate(spark, next, i)
      // drop the superseded round's blocks NOW: without this, `iters`
      // copies of the rank table pile up in storage memory and large graphs
      // hit an eviction cliff (measured 8x super-linear at 5M nodes)
      ranks.unpersist(false)
      ranks = next
    }
    e.unpersist(false); info.unpersist(false)
    spark.createDataFrame(ranks.map { case (id, (rank, _, _)) => Row(id, rank) },
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("rank", LongType, nullable = false))))
  }

  /** One PageRank round — the exact RDD each iteration materializes
    * (factored out so PlanSpec pins its shape). `state` maps a node to
    * (rank, outdeg, base) and is partitioned like the (src, dst) edge pin.
    * Each partition streams its edges against a hash map of its own nodes'
    * `rank div outdeg` shares; the contributions sum per dst with map-side
    * combine (the round's one shuffle); the sums zip back onto the state. */
  private[graft] def prRound(edges: RDD[(Long, Long)],
                             state: RDD[(Long, (Long, Long, Long))],
                             part: Partitioner): RDD[(Long, (Long, Long, Long))] = {
    val sums = edges.zipPartitions(state) { (es, ss) =>
      val share = mutable.LongMap.empty[Long]
      ss.foreach { case (id, (rank, outdeg, _)) =>
        if (outdeg > 0 && rank >= outdeg) share.update(id, rank / outdeg)
      }
      es.map { case (s, d) => (d, share.getOrElse(s, 0L)) }.filter(_._2 > 0L)
    }.reduceByKey(part, _ + _)
    state.zipPartitions(sums, preservesPartitioning = true) { (ss, cs) =>
      val cx = mutable.LongMap.empty[Long]
      cs.foreach { case (id, c) => cx.update(id, c) }
      ss.map { case (id, (_, outdeg, base)) =>
        (id, (base + 85L * cx.getOrElse(id, 0L) / 100L, outdeg, base))
      }
    }
  }

  /** The partitioner of every RDD kernel's edge pin and round state: one
    * HashPartitioner over the session's shuffle width, so a round's
    * state ⋈ edges is a zip of matching partitions. */
  private[graft] def hopPartitioner(spark: SparkSession): HashPartitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** `df`'s first two (long) columns as (hop key, other end) pairs,
    * hash-partitioned by the hop key. Lazy. */
  private[graft] def hops(df: DataFrame, part: Partitioner): RDD[(Long, Long)] = {
    val (a, b) = (col(df.columns(0)), col(df.columns(1)))
    df.filter(a.isNotNull && b.isNotNull).rdd
      .map(r => (r.getLong(0), r.getLong(1))).partitionBy(part)
  }

  /** `hops`, pinned (Materialize.pin); the caller unpersists it. */
  private[graft] def hopPin(df: DataFrame, part: Partitioner): RDD[(Long, Long)] = {
    val rdd = hops(df, part)
    Materialize.pin(df.sparkSession, rdd)
    rdd
  }

  /** The node ids of a BFS state (`reachClosure`) as an (id) frame. */
  private[graft] def idFrame(spark: SparkSession, state: RDD[(Long, (Long, Int))]): DataFrame =
    spark.createDataFrame(state.map(v => Row(v._1)),
      StructType(Seq(StructField("id", LongType, nullable = false))))

  /** Exact integer fixed-point HITS (hubs & authorities) over the directed,
    * deduped, self-loop-free projection of `edges`.
    *
    * Semantics (mirrored verbatim by the DuckDB oracle, all `Long` ops):
    *   h0(i)     = scale
    *   aRaw(i)   = Σ_{j→i} h(j);  a(i) = aRaw(i) div (max(aRaw) div scale + 1)
    *   hRaw(i)   = Σ_{i→j} a(j);  h(i) = hRaw(i) div (max(hRaw) div scale + 1)
    *
    * The per-half-round divisor replaces the classic L2 normalization: it
    * keeps every score < scale (the divisor strictly exceeds max/scale), is
    * a pure function of the max — one bounded driver scalar per half-round,
    * the kCore/CC probe pattern — and involves no float, so aggregation
    * order can never change a bit. Ranking converges to the same order as
    * float HITS (both are power iteration on AᵀA / AAᵀ; only the
    * normalization constant differs).
    *
    * Overflow bound: scores < scale after every half-round, so a raw sum is
    * < maxInDegree · scale; the default scale 1e12 is safe to in-degree
    * ~9.2e6 — at web scale pass a smaller scale (the bound is
    * maxDegree · scale < Long.MaxValue).
    *
    * Scale shape: one pinned edge copy serves both half-rounds. Each gather
    * is a join that re-shuffles the edge side (a pinned frame carries no
    * partitioning under AQE, so a pre-partitioned second copy would not
    * save it); the raw sums are map-side combinable groupBys, so a hub's
    * huge degree is absorbed by partial aggregation. No window functions.
    */
  def hitsInt(edges: DataFrame, iters: Int = 8,
              scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, "hitsInt: iters must be >= 1")
    require(scale >= 1L, "hitsInt: scale must be >= 1")
    Materialize.withPins { pins =>
      val e = directedPin(edges, pins, "hitsInt")
      val nodes = pins(e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()).df
      // one half-round: gather `scores` from → to and renormalize into the
      // round that supersedes `prev`. The raw sums are read twice (max probe
      // + divide), so they are pinned too
      def half(scores: DataFrame, from: String, to: String, iter: Int,
               prev: DataFrame): DataFrame = {
        val raw = pins(gatherSum(e, scores, from, to)).df
        val next = pins.iterate(rescale(raw, scale), iter)
        Seq(raw, prev).foreach(Materialize.release)
        next
      }
      // Intermediate scores are SPARSE: a node absent from a gather has score
      // 0, and a 0 row is indistinguishable from an absent row to both the
      // next gather (inner join, contributes 0) and the max divisor — so the
      // per-half-round nodes zero-fill join is dropped entirely (≈2× less
      // per-round work on the probe wheel) and zero-filling happens once, on
      // the final output. Bit-exact equivalent of the dense recurrence the
      // oracle runs. The first round's `prev` is this lazy projection, whose
      // release is a no-op.
      var hubs = nodes.select(col("id"), lit(scale).as("score"))
      var auths = hubs
      for (i <- 0 until iters) {
        // authority half-round along edge direction, hub half-round against it
        auths = half(hubs, "src", "dst", 2 * i, auths)
        hubs = half(auths, "dst", "src", 2 * i + 1, hubs)
      }
      Materialize.pin(nodes
        .join(hubs.withColumnRenamed("score", "hub"), Seq("id"), "left")
        .join(auths.withColumnRenamed("score", "auth"), Seq("id"), "left")
        .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
          coalesce(col("auth"), lit(0L)).as("auth"))).df
    }
  }

  /** The directed, deduped, self-loop-free projection of `edges` (src,
    * dst), pinned into `pins`; `kernel` names the caller in the error for an
    * empty graph, which the pin's own count detects. */
  private def directedPin(edges: DataFrame, pins: Materialize.Pins, kernel: String): DataFrame = {
    val e = pins(edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct())
    require(e.count > 0, s"$kernel: empty graph")
    e.df
  }

  /** One HITS gather: Σ of `scores` over the `from` endpoint, keyed by the
    * `to` endpoint — a plain equi-join plus a map-side-combinable sum
    * (factored out so PlanSpec pins the shape: partial agg, no window). */
  private[graft] def gatherSum(e: DataFrame, scores: DataFrame,
                               from: String, to: String): DataFrame = {
    e.join(scores, col(from) === col("id"))
      .groupBy(col(to).as("nid")).agg(sum("score").as("raw"))
  }

  /** Integer renormalization: raw div (max(raw) div scale + 1), sparse —
    * nodes absent from `raw` implicitly score 0 (see hitsInt). The max is a
    * bounded driver scalar. */
  private def rescale(raw: DataFrame, scale: Long): DataFrame = {
    val mRow = raw.agg(max("raw")).head()
    val m = if (mRow.isNullAt(0)) 0L else mRow.getLong(0)
    val d = m / scale + 1L
    // `div` (integer division), NOT `/`: Spark's `/` routes through DOUBLE,
    // which silently rounds above 2^53 and breaks bit-exactness
    raw.select(col("nid").as("id"), expr(s"raw div ${d}L").as("score"))
  }

  /** Synchronous label propagation over the undirected, deduped,
    * self-loop-free projection of `edges`: community detection, the
    * modularity-flavored sibling of the CC canonicalizer.
    *
    * l0(i) = i; each round every node adopts the most frequent label among
    * its neighbors (NOT itself — classic LP), ties broken by the SMALLEST
    * label. Exactly `iters` synchronous rounds (sync LP can 2-cycle on
    * bipartite structure, so bounded rounds ARE the semantics — both the
    * driver twin and the DuckDB oracle run the same count); the
    * (count desc, label asc) argmax makes every round a pure function of the
    * previous labeling, independent of partitioning.
    *
    * Scale shape: per round one equi-join (labels on the neighbor slot) and
    * two map-side-combinable groupBys — the (node, label) count, then a
    * single-pass struct-max argmax (`~label` turns min-label into max, a
    * bijection with no MinValue overflow). A hub's million neighbors are
    * absorbed by partial aggregation; no window functions.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, "labelPropagation: iters must be >= 1")
    val und = undirected(edges)
    Materialize.withPins { pins =>
      // both directions, shuffled ONCE onto the per-round join key
      val bi = pins(und.select(col("u").as("node"), col("v").as("nb"))
        .union(und.select(col("v").as("node"), col("u").as("nb")))
        .repartition(col("nb"))).df
      // the result is the last round, so the rounds are not the set's; the
      // first `old` is a lazy frame, whose release is a no-op
      var labels = bi.select(col("node").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
      for (i <- 0 until iters) {
        val old = labels
        labels = Materialize.iterate(lpStep(bi, labels), i)
        Materialize.release(old)
      }
      labels
    }
  }

  /** The undirected, deduped, self-loop-free projection of `edges` as
    * (u, v) with u < v. Lazy. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("u"), greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

  /** Per-node degree (id, deg) of an undirected (u, v) edge frame. Lazy. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** One LP round (factored for PlanSpec): neighbor-label histogram, then
    * (count desc, label asc) argmax via a single struct-max aggregation. */
  private[graft] def lpStep(bi: DataFrame, labels: DataFrame): DataFrame = {
    val hist = bi
      .join(labels.select(col("id").as("nb"), col("label")), Seq("nb"))
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
    val nl = hist
      .select(col("node"),
        struct(col("c"), expr("~ label").as("invLabel")).as("p"))
      .groupBy("node").agg(max("p").as("p"))
      .select(col("node").as("id"), expr("~ p.invLabel").as("newLabel"))
    labels.join(nl, Seq("id"), "left")
      .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"))
  }

  /** The k-core of the undirected, deduped, self-loop-free projection of
    * `edges`: iteratively peel nodes of degree < k until none remain, and
    * return the survivors as (id, deg) with deg = degree INSIDE the core.
    * The k-core is unique, so the synchronous distributed rounds here and
    * the oracle's sequential queue peel must agree exactly.
    *
    * Round shape: degree = partial-agg count; the weak set is usually tiny
    * and eagerly materialized (exact stats → broadcast anti-joins), so one
    * round is two broadcast anti-joins plus one groupBy — no windows, and a
    * hub's degree is summed map-side. Termination = empty weak set
    * (bounded driver probe per round, the CC changed-count pattern).
    */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    Materialize.withPins { pins =>
      // the nodes of degree < k: tiny in practice, pinned for exact stats
      // (broadcast anti-joins); the pin's count ends the peel
      def weakOf(g: DataFrame) = pins(degrees(g).filter(col("deg") < k).select("id"))
      var cur = pins(undirected(edges)).df
      var weak = weakOf(cur)
      var it = 0
      while (weak.count > 0) {
        val old = cur
        cur = pins.iterate(
          cur.join(weak.df.withColumnRenamed("id", "u"), Seq("u"), "left_anti")
            .join(weak.df.withColumnRenamed("id", "v"), Seq("v"), "left_anti")
            .select("u", "v"), it)
        Seq(old, weak.df).foreach(Materialize.release)
        weak = weakOf(cur)
        it += 1
      }
      Materialize.pin(degrees(cur)).df
    }
  }

  /** Per-entity triangle and wedge counts over the undirected, deduped,
    * self-loop-free projection of `edges` (src, dst).
    *
    * Output: (id, deg, wedges, triangles) — all integer columns, so the
    * local clustering coefficient 2·T/(deg·(deg−1)) is a consumer-side
    * division and the driver hash stays exact.
    *
    * `materialize = false` (tests only) returns the lazy census so PlanSpec
    * can pin the physical shape — the default path materializes and
    * releases the edge-sized invariant frames (cappedPairs pattern).
    */
  def triangleCounts(edges: DataFrame, materialize: Boolean = true): DataFrame = {
    Materialize.withPins { pins =>
      // the lazy (plan-inspection) path checkpoints NOTHING — eager blocks it
      // could never release would leak for the session's lifetime
      def pin(df: DataFrame): DataFrame = if (materialize) pins(df).df else df
      val und = pin(undirected(edges)) // feeds degree, orientation AND closure
      val deg = pin(degrees(und))
      // orient toward the (deg, id)-larger endpoint: wedges form only at the
      // ≺-min vertex, so the hub (≺-max on every incident edge) expands nothing
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = pin(und
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .select(when(uFirst, col("u")).otherwise(col("v")).as("s"),
          when(uFirst, col("v")).otherwise(col("u")).as("t"))) // both sides of the wedge self-join
      val wedge = oriented.select(col("s"), col("t").as("a"))
        .join(oriented.select(col("s"), col("t").as("b")), "s")
        .filter(col("a") < col("b"))
      // close each wedge against the undirected edge set: a < b by id, und is
      // (u < v) by id, so closure is a plain two-key equi-join
      val tri = wedge.join(und,
        col("a") === col("u") && col("b") === col("v"), "inner")
        .select("s", "a", "b")
      // one pass over the (expensive) closed-wedge join: explode the three
      // corners instead of unioning three scans of `tri`
      val perNode = tri
        .select(explode(array(col("s"), col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("triangles"))
      val census = deg.join(perNode, Seq("id"), "left")
        .select(col("id"), col("deg"),
          expr("(deg * (deg - 1)) div 2").as("wedges"),
          coalesce(col("triangles"), lit(0L)).as("triangles"))
      // the (node-sized) census is the result pin; the edge-sized invariant
      // frames go with the set
      if (materialize) Materialize.pin(census).df else census
    }
  }

  /** Degree histogram (deg, n_nodes) of the undirected, deduped,
    * self-loop-free projection of `edges` — the power-law census every
    * web-graph paper opens with. Two map-side-combinable groupBys; the
    * mega-hub contributes one row to the tail, never a hot task. */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    degrees(undirected(edges)).groupBy("deg").agg(count(lit(1)).as("n_nodes"))
  }

  /** Structural entity-resolution candidates: pairs of entities whose
    * neighborhoods in the undirected, deduped, self-loop-free projection of
    * `edges` overlap — the canonicalizer's refinement pass ("two names that
    * link to the same things are candidates for the same thing"), the graph
    * sibling of the alias-dictionary linker.
    *
    * Semantics (mirrored verbatim by the DuckDB oracle, all integer):
    * a *witness* is a shared neighbor w ∈ N(u) ∩ N(v) with deg(w) ≤ hubCap
    * (a neighbor shared by everything — the mega-hub — is uninformative,
    * the stop-word of similarity joins, and dropping it is what bounds the
    * pair blowup). Output (u, v, inter, du, dv) for pairs with
    *   inter ≥ minInter  AND  inter · jacDen ≥ jacNum · (du + dv − inter)
    * where inter = witness count and du/dv are FULL degrees — the Jaccard
    * test is the cross-multiplied integer form, so no float ever appears
    * and the driver hash is exact. Consumers divide for the real ratio.
    *
    * Scale shape: hub witnesses are found by a partial-agg degree count and
    * removed with one anti-join (NOT a window cap — the verdict's hot-bucket
    * rule); the witness self-join is equi on w with per-key width ≤ hubCap;
    * the pair count is a map-side-combinable groupBy. No windows anywhere.
    */
  def sameAsCandidates(edges: DataFrame, minInter: Int = 2, jacNum: Int = 1,
                       jacDen: Int = 4, hubCap: Long = 1000L,
                       materialize: Boolean = true): DataFrame = {
    require(minInter >= 1, "sameAsCandidates: minInter must be >= 1")
    require(jacNum >= 0 && jacDen >= 1, "sameAsCandidates: bad jaccard ratio")
    require(hubCap >= 1, "sameAsCandidates: hubCap must be >= 1")
    Materialize.withPins { pins =>
      // lazy (plan-inspection) path checkpoints nothing — triangleCounts rule
      def pin(df: DataFrame): DataFrame = if (materialize) pins(df).df else df
      val und = undirected(edges)
      // feeds degree AND the inverted index
      val bi = pin(und.select(col("u").as("node"), col("v").as("nb"))
        .union(und.select(col("v").as("node"), col("u").as("nb"))))
      // read 3×: hub drop + both denominators
      val deg = pin(bi.groupBy("node").agg(count(lit(1)).as("deg")))
      // inverted index witness → member, hub witnesses anti-joined away
      val inv = pin(bi.select(col("nb").as("w"), col("node"))
        .join(deg.filter(col("deg") > hubCap).select(col("node").as("w")),
          Seq("w"), "left_anti")) // read twice: both sides of the pair join
      val pairs = inv.select(col("w"), col("node").as("u"))
        .join(inv.select(col("w"), col("node").as("v")), Seq("w"))
        .filter(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("inter"))
      val cand = pairs
        .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
        .filter(col("inter") >= minInter &&
          col("inter") * jacDen >= (col("du") + col("dv") - col("inter")) * jacNum)
        .select("u", "v", "inter", "du", "dv")
      if (materialize) Materialize.pin(cand).df else cand
    }
  }

  /** Strongly connected components of the directed, deduped, self-loop-free
    * projection of `edges` — the web's bow-tie kernel. Output (id, scc)
    * with scc = the SCC's minimum member id (the partition is unique, so
    * this labeling is canonical and rowwise-comparable against a sequential
    * Tarjan).
    *
    * Algorithm: trim + deterministic forward-backward splitting.
    * Each outer round, over the current node partition (`part` labels):
    *   1. TRIM to fixpoint: a node with no in- or no out-edge INSIDE its
    *      part is a singleton SCC — emit and drop (kCore's peel shape:
    *      partial-agg distincts + semi/anti joins).
    *   2. Per part, pivot = min id (one partial-agg groupBy). Propagate
    *      fwd/bwd reachability flags from the pivot along within-part
    *      edges to fixpoint (wavefront = semi-join + map-side-combinable
    *      distinct; termination = flag-count unchanged, the CC
    *      changed-count pattern — one bounded driver scalar per round).
    *   3. fwd ∧ bwd = the pivot's SCC — emit with scc = pivot. The rest
    *      splits into (fwd-only, bwd-only, neither); new part label = the
    *      sub-group's min id (deterministic, collision-free — no hash).
    * Edges crossing parts can never close a cycle again and are dropped by
    * the per-round within-part filter.
    *
    * Rounds: trim depth is the DAG peeling depth, FW-BW depth is the
    * reach diameter, outer rounds the SCC nesting depth — all small on
    * web-shaped graphs (same caveat class as kCore). Every step is an
    * equi-join or partial aggregation; no windows; a mega-hub's fan-in
    * collapses in map-side combine. Requires a non-empty edge set.
    */
  def scc(edges: DataFrame): DataFrame = Materialize.withPins { pins =>
    Materialize.pin(sccParts(directedPin(edges, pins, "scc"), pins)).df
  }

  /** scc body over an already canonical (deduped, self-loop-free, pinned)
    * edge frame — shared with bowTie so the canonicalization shuffle and
    * the pinned edge copy are paid once. Returns the lazy union of the
    * emitted (id, scc) parts, each a pin in `pins`. */
  private def sccParts(e0: DataFrame, pins: Materialize.Pins): DataFrame = {
    val spark = e0.sparkSession
    var active = pins(e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct()
      .select(col("id"), lit(0L).as("part")))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (active.count > 0) {
      // within-part edge set for this round
      var aE = pins(e0
        .join(active.df.select(col("id").as("src"), col("part").as("ps")), Seq("src"))
        .join(active.df.select(col("id").as("dst"), col("part").as("pd")), Seq("dst"))
        .filter(col("ps") === col("pd"))
        .select(col("src"), col("dst"))).df
      // 1. trim to fixpoint: `keep` is a subset of `active`, so equal counts
      // mean nothing was trimmed
      var keep = trimmed(active.df, aE, pins)
      while (keep.count < active.count) {
        out += pins(active.df.join(keep.df.select("id"), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("scc"))).df
        val next = pins(aE
          .join(keep.df.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(keep.df.select(col("id").as("dst")), Seq("dst"), "left_semi")).df
        Seq(active.df, aE).foreach(Materialize.release)
        active = keep; aE = next
        keep = trimmed(active.df, aE, pins)
      }
      Materialize.release(keep.df)
      if (active.count > 0) {
        // 2. pivot reach closures — frontier BFS over the within-part edge
        // set. Parts are disjoint and aE edges never cross parts, so ONE
        // closure from the union of all pivots equals the per-part
        // closures run simultaneously.
        val pivots = pins(active.df.groupBy("part").agg(min(col("id")).as("pivot"))).df
        val seeds = pivots.select(col("pivot").as("id"))
        val fwdPin = reachClosure(aE, seeds, forward = true)
        val bwdPin = reachClosure(aE, seeds, forward = false)
        val (fwd, bwd) = (idFrame(spark, fwdPin), idFrame(spark, bwdPin))
        // 3. emit the pivot SCCs (fwd ∩ bwd), split the rest
        val inBoth = fwd.join(bwd, Seq("id"), "left_semi")
        out += pins(active.df.join(inBoth, Seq("id"), "left_semi")
          .join(pivots, Seq("part")).select(col("id"), col("pivot").as("scc"))).df
        val rest = active.df.join(inBoth, Seq("id"), "left_anti")
          .join(fwd.withColumn("fIn", lit(true)), Seq("id"), "left")
          .join(bwd.withColumn("bIn", lit(true)), Seq("id"), "left")
          .select(col("id"), col("part"),
            col("fIn").isNotNull.as("fwd"), col("bIn").isNotNull.as("bwd"))
        val np = rest.groupBy("part", "fwd", "bwd").agg(min("id").as("npart"))
        val next = pins(rest.join(np, Seq("part", "fwd", "bwd"))
          .select(col("id"), col("npart").as("part")))
        Seq(active.df, pivots).foreach(Materialize.release)
        fwdPin.unpersist(false); bwdPin.unpersist(false)
        active = next
      }
      Materialize.release(aE)
    }
    out.reduce(_ unionByName _)
  }

  /** The nodes of `active` with an in- and an out-edge in `aE`, pinned:
    * one trim step of sccParts. */
  private def trimmed(active: DataFrame, aE: DataFrame,
                      pins: Materialize.Pins): Materialize.Pinned =
    pins(active
      .join(aE.select(col("src").as("id")).distinct(), Seq("id"), "left_semi")
      .join(aE.select(col("dst").as("id")).distinct(), Seq("id"), "left_semi"))

  /** Bow-tie decomposition (Broder et al.'s web-graph macro-structure) of
    * the directed, deduped, self-loop-free projection of `edges`:
    * every node classified as
    *   CORE — member of the LARGEST SCC (ties broken by smaller scc label,
    *          so the pick is deterministic),
    *   IN   — reaches the core but is not in it,
    *   OUT  — reachable from the core but not in it,
    *   OTHER — everything else (tendrils, tubes, disconnected).
    * Output (id, region) — rowwise-checked against a sequential BFS twin
    * over the Tarjan dump.
    *
    * Composition: one scc() pass, then two BFS fixpoints seeded at the
    * core (backward for IN, forward for OUT) — wavefront = semi-join +
    * map-side-combinable distinct, changed-count termination; rounds =
    * reach diameter. The giant-SCC pick is a partial-agg count.
    */
  def bowTie(edges: DataFrame): DataFrame = Materialize.withPins { pins =>
    val e0 = directedPin(edges, pins, "bowTie")
    val s = pins(sccParts(e0, pins)).df // reuse the pinned canonical edge frame
    // largest SCC, deterministic tie-break on the smaller label
    val coreRow = s.groupBy("scc").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc").asc).head()
    val coreId = coreRow.getLong(0)
    val core = pins(s.filter(col("scc") === lit(coreId)).select("id")).df
    val toPin = reachClosure(e0, core, forward = false) // core ∪ who reaches it
    val fromPin = reachClosure(e0, core, forward = true) // core ∪ whom it reaches
    val (toCore, fromCore) = (idFrame(e0.sparkSession, toPin), idFrame(e0.sparkSession, fromPin))
    val res = Materialize.pin(s.select("id")
      .join(core.withColumn("inCore", lit(true)), Seq("id"), "left")
      .join(toCore.withColumn("inTo", lit(true)), Seq("id"), "left")
      .join(fromCore.withColumn("inFrom", lit(true)), Seq("id"), "left")
      .select(col("id"),
        when(col("inCore").isNotNull, "CORE")
          .when(col("inTo").isNotNull, "IN")
          .when(col("inFrom").isNotNull, "OUT")
          .otherwise("OTHER").as("region"))).df
    toPin.unpersist(false); fromPin.unpersist(false)
    res
  }

  /** Above this many visited nodes the backtrack falls back to per-hop
    * lookups instead of one driver-side collect (~64 MB of (id, parent)
    * longs at the cap — the same driver-budget argument as
    * Queries.PageDimBroadcastCutover). */
  val BacktrackCollectCap: Long = 4000000L

  /** Deterministic shortest path between two entities over the directed,
    * self-loop-free projection of `edges` — the "how are X and Y
    * related?" query. BFS guarantees minimal hop count; among equal-length
    * paths the MIN-parent rule at every level makes the returned path
    * unique (a pure function of the graph, partition-invariant). Duplicate
    * edges change neither, so the edge input is not deduplicated.
    *
    * Scale shape: the BFS rounds `reachClosure` runs (one zip with the
    * edge pin, one map-side-combined min-parent reduce), stopped as soon as
    * `to` is reached — a one-partition lookup per round. Backtracking touches
    * pathLength singleton lookups. Returns None when `to` is not
    * reachable within `maxDepth` hops. */
  def shortestPath(edges: DataFrame, from: Long, to: Long,
                   maxDepth: Int = 30): Option[Seq[Long]] = {
    require(maxDepth >= 1, "shortestPath: maxDepth must be >= 1")
    if (from == to) return Some(Seq(from))
    val spark = edges.sparkSession
    val part = hopPartitioner(spark)
    val e = hopPin(edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")), part)
    // the seed's parent slot is unused
    val seed = spark.sparkContext.parallelize(Seq((from, (from, 0)))).partitionBy(part)
    val (visited, nVisited, found) = bfs(spark, e, seed, 1L, maxDepth, target = Some(to))
    val res = if (!found) None
    else if (nVisited <= BacktrackCollectCap) {
      // backtrack with ONE action: the visited set fits a driver map (the
      // common case for a ≤30-hop relatedness query — the round counts
      // above tracked its exact size), so chase the ≤ maxDepth parent hops
      // in memory instead of issuing one sequential Spark job per hop
      val parentOf = mutable.LongMap.empty[Long]
      visited.collect().foreach { case (id, (parent, _)) => parentOf.update(id, parent) }
      var path = List(to)
      while (path.head != from) path = parentOf(path.head) :: path
      Some(path)
    } else {
      // bounded-memory fallback past the cap: one single-partition lookup
      // per hop (a BFS parent chain never revisits a node), ≤ maxDepth jobs
      var path = List(to)
      while (path.head != from) path = visited.lookup(path.head).head._1 :: path
      Some(path)
    }
    e.unpersist(false); visited.unpersist(false)
    res
  }

  /** BFS closure from `seeds` over `edges`, seeds included: forward = true
    * follows src→dst, false follows dst→src; at most `maxDepth` rounds, and
    * `firstHop` (same orientation) replaces the edges in the first round.
    * The edges are pinned once, keyed by the hop end; returns the final
    * BFS state (node → (min parent, depth)), pinned — the caller
    * releases it (or wraps it with `idFrame`). */
  private[graft] def reachClosure(edges: DataFrame, seeds: DataFrame, forward: Boolean,
                                  maxDepth: Int = Int.MaxValue,
                                  firstHop: Option[DataFrame] = None): RDD[(Long, (Long, Int))] = {
    val spark = edges.sparkSession
    val part = hopPartitioner(spark)
    val ends = if (forward) Seq(col("src"), col("dst")) else Seq(col("dst"), col("src"))
    val e = hopPin(edges.select(ends: _*), part)
    val seed = seeds.select(col("id")).filter(col("id").isNotNull).rdd
      .map { r => val id = r.getLong(0); (id, (id, 0)) }
      .reduceByKey(part, (a, _) => a)
    val nSeeds = Materialize.pin(spark, seed)
    val (visited, _, _) = bfs(spark, e, seed, nSeeds, maxDepth,
      firstHop = firstHop.map(f => hops(f.select(ends: _*), part)))
    e.unpersist(false)
    visited
  }

  /** Frontier BFS over the hop-keyed edge pin `edges` from `seed` (a state
    * partitioned like it, holding `nSeed` nodes), at most `maxDepth` rounds,
    * stopping early when a round adds nothing or `target` is reached. Each
    * round's state is materialized by Materialize.iterate and the
    * superseded one released (the seed state included). Returns the final
    * state, its size and whether it holds `target`. */
  private def bfs(spark: SparkSession, edges: RDD[(Long, Long)],
                  seed: RDD[(Long, (Long, Int))], nSeed: Long, maxDepth: Int,
                  firstHop: Option[RDD[(Long, Long)]] = None,
                  target: Option[Long] = None): (RDD[(Long, (Long, Int))], Long, Boolean) = {
    val part = seed.partitioner.get
    var (state, n, d) = (seed, nSeed, 0)
    var (grew, found) = (true, false)
    while (grew && !found && d < maxDepth) {
      val next = bfsRound(if (d == 0) firstHop.getOrElse(edges) else edges, state, d, part)
      val m = Materialize.iterate(spark, next, d)
      grew = m > n
      if (!grew) next.unpersist(false)
      else {
        state.unpersist(false)
        state = next; n = m
        found = target.exists(t => state.lookup(t).nonEmpty)
      }
      d += 1
    }
    (state, n, found)
  }

  /** One BFS round (factored out so PlanSpec pins its shape). `state` maps
    * every visited node to (min parent, depth) and is partitioned like the
    * hop-keyed edges. Each partition streams its edges against a hash set
    * of its own depth-`d` frontier; the reached nodes reduce to their MIN
    * parent with map-side combine (the round's one shuffle, absorbing an
    * in-degree hub); the ones not yet visited zip into the state at d + 1. */
  private[graft] def bfsRound(edges: RDD[(Long, Long)], state: RDD[(Long, (Long, Int))],
                              d: Int, part: Partitioner): RDD[(Long, (Long, Int))] = {
    val reached = edges.zipPartitions(state) { (es, ss) =>
      val frontier = mutable.LongMap.empty[Unit]
      ss.foreach { case (id, (_, depth)) => if (depth == d) frontier.update(id, ()) }
      if (frontier.isEmpty) Iterator.empty
      else es.filter(e => frontier.contains(e._1)).map(_.swap)
    }.reduceByKey(part, math.min(_, _))
    state.zipPartitions(reached, preservesPartitioning = true) { (ss, rs) =>
      val seen = mutable.LongMap.empty[(Long, Int)]
      ss.foreach { case (id, v) => seen.update(id, v) }
      seen.iterator ++ rs.collect { case (id, p) if !seen.contains(id) => (id, (p, d + 1)) }
    }
  }
}
