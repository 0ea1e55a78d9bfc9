package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.{Dependency, HashPartitioner, NarrowDependency, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Machine-checked physical-plan hygiene: the properties that keep the
  * engine viable at 100 TB are asserted on the ACTUAL plans, not just
  * documented — filter/column pushdown reaching the parquet scan, broadcast
  * for the small side, partial (map-side) aggregation, and codegen'd spans.
  * A regression that silently de-optimizes a plan fails here.
  */
class PlanSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan gets filter pushdown AND column pruning") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") < "1995-01-01")
      .select("l_orderkey", "l_quantity")
    val plan = physical(df)
    plan should include("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate")
    // pruned read schema: only the 3 referenced columns reach the scan
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).get.group(1)
    readSchema.split(",").map(_.takeWhile(_ != ':')).sorted shouldBe
      Array("l_orderkey", "l_quantity", "l_shipdate")
  }

  test("q1 aggregation is partial (map-side combine) before the shuffle") {
    val plan = physical(Queries.all("q1_agg")(spark, sfDir))
    plan should include("HashAggregate")
    // partial_sum markers prove map-side combine; a plain hash shuffle of raw
    // rows would show only final aggregates
    plan should include("partial_sum")
  }

  test("dimension joins broadcast the small side") {
    val plan = physical(Queries.all("q3_broadcast_join")(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan shouldNot include("SortMergeJoin")
  }

  test("semi/anti joins plan as joins, not subquery loops") {
    physical(Queries.all("q4_anti_join")(spark, sfDir)) should include("LeftAnti")
    physical(Queries.all("q5_semi_join")(spark, sfDir)) should include("LeftSemi")
  }

  test("pipeline canonical mapping joins broadcast, lang filter prunes the scan") {
    val cfg = model.PageGen.Config(nPages = 60)
    val pagesDir = java.nio.file.Files.createTempDirectory("plan_pages").toString
    model.PageGen.pages(spark, cfg).write.mode("overwrite").parquet(pagesDir)
    import spark.implicits._
    val t = Pipeline.run(spark, spark.read.parquet(pagesDir).as[model.Page], cfg.nPersons)
    val plan = physical(t.triples)
    plan should include("BroadcastHashJoin") // canonical map is broadcast
    // the lang predicate reaches the pages parquet scan
    plan should include("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]")
    t.flatEnc.unpersist(false); t.components.unpersist(false)
    store.TableIO.deleteRecursively(pagesDir)
  }

  test("kg_mentions url re-attach broadcasts the page dim below the cutover") {
    // the page dim is |pages|-sized — at test scale (≪ the canonical
    // cutover) the join MUST broadcast; past the cutover the hint is
    // dropped by construction (kgPages is config-known driver-side)
    val plan = physical(Queries.all("kg_mentions")(spark, sfDir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("binned range join: candidate join is equi on the bin key, no cartesian") {
    val plan = physical(Queries.all("q29_range_join")(spark, sfDir))
    plan shouldNot include("CartesianProduct")
    // the points-to-intervals join must be an equi join on _bin; the only
    // nested-loop allowed is the 1-row t0 broadcast that seeds the windows
    "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[_bin".r
      .findFirstIn(plan) should be (defined)
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    nlj should be <= 1
  }

  test("interval chain slice is one range-filtered join — no iteration") {
    val cfg = model.PageGen.Config(nPages = 60)
    val t = Pipeline.run(spark, model.PageGen.pages(spark, cfg), cfg.nPersons)
    val seeds = t.nodes.filter(col("kind") === "Mention" && col("childNum") === 0)
    val df = query.Steps.chainSliceByInterval(t.nodes, seeds, depth = 5)
    val plan = df.queryExecution.executedPlan.toString
    // the iterative slice loop leaves one checkpointed scan per hop; the
    // closure-column form must be a single join with zero checkpoint scans
    "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size shouldBe 1
    plan shouldNot include("ExistingRDD")
    t.flatEnc.unpersist(false); t.components.unpersist(false)
  }

  test("near-dup hot-bucket caps never plan a Window (map-side bounded heap)") {
    // Window.partitionBy(bucket) has no partial aggregation: a hot bucket
    // (boilerplate/empty docs sharing a signature) would be shuffled into
    // ONE task and sorted before the cap filter ran. The cap must plan as
    // an (Object)HashAggregate with a partial mode instead.
    for (q <- Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d4_simhash", "e3_emb_neardup")) {
      val plan = physical(Queries.all(q)(spark, sfDir))
      withClue(s"$q plan:") {
        plan shouldNot include("Window")
        // d3/d4/e3 materialize the capped pair list eagerly (exact-stats
        // join planning), so the cap agg runs BEFORE the returned plan; the
        // visible property is the re-attach joins broadcasting the small
        // pair side instead of shuffling the full signature table
        if (q == "d2_ngram_jaccard") plan should include("Aggregate")
        else plan should include("BroadcastHashJoin")
      }
    }
    // the cap itself now runs upstream of the eager checkpoint, so assert
    // on the REAL code path pre-materialization (materialize = false):
    // bounded min-k heap as a partial (map-side) object hash aggregate,
    // never a per-bucket window sort — this is the exact function all three
    // banded ops call, so a regression back to row_number-over-Window in
    // the cap cannot hide inside the checkpoint
    val capPlan = physical(graft.ops.Dedup.cappedPairs(
      spark.read.parquet(s"$sfDir/events.parquet"),
      Seq("event_type"), "event_id", 50, materialize = false))
    capPlan shouldNot include("Window")
    capPlan should include("ObjectHashAggregate")
    // partial-mode marker: map-side combine before the bucket-key shuffle
    capPlan should include("partial_")
  }

  /** The dependencies of `r`'s lineage, down to (not into) `inputs`. */
  private def lineage(r: RDD[_], inputs: RDD[_]*): Seq[Dependency[_]] =
    r.dependencies.flatMap { d =>
      d +: (if (inputs.exists(_ eq d.rdd)) Nil else lineage(d.rdd, inputs: _*))
    }

  /** An RDD kernel round reads its edge pin through narrow dependencies
    * only (a zip with the co-partitioned state, never a per-round edge
    * reshuffle) and pays exactly one shuffle, whose aggregator combines
    * map-side — so a hub's degree is absorbed before the shuffle, never
    * funneled whole through one reducer. */
  private def assertRoundShape(round: RDD[_], edges: RDD[_], state: RDD[_]): Unit = {
    val deps = lineage(round, edges, state)
    val shuffles = deps.collect { case s: ShuffleDependency[_, _, _] => s }
    shuffles should have size 1
    shuffles.head.aggregator shouldBe defined
    shuffles.head.mapSideCombine shouldBe true
    val onEdges = deps.filter(_.rdd eq edges)
    onEdges should not be empty
    onEdges.foreach(_ shouldBe a[NarrowDependency[_]])
  }

  /** Parquet-backed (src, dst) edges, keyed and partitioned the way the
    * kernels pin them (lazy: no job runs). */
  private def lineitemHops(part: HashPartitioner): RDD[(Long, Long)] =
    graft.query.GraphAnalytics.hops(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")), part)

  test("integer PageRank round: partial-agg contribution sum, no Window, no cartesian") {
    // a hub entity's in-degree must be absorbed by map-side combine — the
    // same argument as the near-dup caps — and the edge side, pinned once
    // per call, must not be re-shuffled by any round
    val part = new HashPartitioner(4)
    val e = lineitemHops(part)
    val state = spark.sparkContext.parallelize(Seq(1L -> (100L, 1L, 15L))).partitionBy(part)
    assertRoundShape(graft.query.GraphAnalytics.prRound(e, state, part), e, state)
  }

  test("HITS gather: partial-agg sum, no Window, no cartesian") {
    // same hub argument as the PageRank round: an authority's huge in-degree
    // is absorbed by map-side combine, never funneled through one task
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst")).distinct()
    val scores = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1000000L).as("score"))
    val plan = physical(graft.query.GraphAnalytics.gatherSum(
      e, scores, from = "src", to = "dst"))
    plan should include("partial_sum")
    plan shouldNot include("Window")
    plan shouldNot include("CartesianProduct")
    plan shouldNot include("BroadcastNestedLoopJoin")
  }

  test("label-propagation round: two partial-agg groupBys, no Window, no cartesian") {
    // the histogram AND the struct-max argmax must both combine map-side —
    // a hub's million neighbor labels never sort in one task
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val bi = e.select(col("src").as("node"), col("dst").as("nb"))
      .union(e.select(col("dst").as("node"), col("src").as("nb")))
    val labels = bi.select(col("node").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val plan = physical(graft.query.GraphAnalytics.lpStep(bi, labels))
    plan should include("partial_count")
    plan should include("partial_max")
    plan shouldNot include("Window")
    plan shouldNot include("CartesianProduct")
    plan shouldNot include("BroadcastNestedLoopJoin")
  }

  test("sameAs candidates: anti-join hub drop, partial-agg pair count, no Window") {
    // the hub defense must be groupBy-count + anti-join (map-side combine),
    // never a row_number window — the verdict's hot-bucket rule
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val plan = physical(graft.query.GraphAnalytics.sameAsCandidates(
      e, materialize = false))
    plan should include("partial_count")
    plan should include("LeftAnti")
    plan shouldNot include("Window")
    plan shouldNot include("CartesianProduct")
    plan shouldNot include("BroadcastNestedLoopJoin")
  }

  test("shortest-path round: partial-agg min-parent, no Window, no cartesian") {
    // the BFS frontier expansion behind path, slice and the SCC reach:
    // min-parent reduce combined map-side at in-degree hubs, the edge pin
    // read through the zip — same hub discipline as the other kernels
    val part = new HashPartitioner(4)
    val e = lineitemHops(part)
    val state = spark.sparkContext.parallelize(Seq(1L -> (1L, 0))).partitionBy(part)
    assertRoundShape(graft.query.GraphAnalytics.bfsRound(e, state, 0, part), e, state)
  }

  test("triangle counts: equi-join wedge closure, no Window, no cartesian") {
    val e = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val plan = physical(graft.query.GraphAnalytics.triangleCounts(e, materialize = false))
    plan shouldNot include("Window")
    plan shouldNot include("CartesianProduct")
    plan shouldNot include("BroadcastNestedLoopJoin")
    // per-node triangle census is a partial-agg count
    plan should include("partial_count")
  }

  test("asof join is one keyed window over a union, no join at all") {
    val plan = physical(Queries.all("q28_asof")(spark, sfDir))
    plan should include("Window")
    plan shouldNot include("SortMergeJoin")
    plan shouldNot include("BroadcastNestedLoopJoin")
  }

  test("featureHashEmbedding: two partial-agg groupBys, no Window, no UDF") {
    // any parquet-backed (id, label, count) shape drives the same plan
    val bags = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey").as("pageId"),
        col("l_linenumber").cast("long").as("label"),
        col("l_quantity").cast("long").as("count"))
    val plan = physical(graft.ops.Similarity.featureHashEmbedding(bags))
    plan shouldNot include("Window")
    plan shouldNot include("BatchEvalPython")
    plan should include("partial_sum")
    plan shouldNot include("CartesianProduct")
  }

  test("outLabeled hop: label+kind filter sits on the edge side, real join") {
    // parquet-backed frames so the filter is visible (local relations fold)
    val dir = java.nio.file.Files.createTempDirectory("planspec-lbl").toString
    import spark.implicits._
    Seq((1L, "Mention", "a", 1L, 0)).toDF("id", "kind", "code", "pageId", "childNum")
      .write.parquet(s"$dir/nodes")
    Seq((1L, 2L, "SAME_SENTENCE", null.asInstanceOf[String], "True"))
      .toDF("src", "dst", "kind", "variable", "label").write.parquet(s"$dir/edges")
    val nodes = spark.read.parquet(s"$dir/nodes")
    val edges = spark.read.parquet(s"$dir/edges")
    val plan = physical(graft.query.Steps.outLabeled(
      nodes, edges, nodes, "SAME_SENTENCE", "True"))
    // both predicates pushed into the edges parquet scan, no cartesian
    plan should include("EqualTo(kind,SAME_SENTENCE)")
    plan should include("EqualTo(label,True)")
    plan shouldNot include("CartesianProduct")
    graft.store.TableIO.deleteRecursively(dir)
  }

  test("shardPack is a distributed prefix sum: per-chunk windows, never a global one") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.ops.CorpusOps.shardPack(docsDf, budget = 2000L, chunk = 50L))
    // a global ORDER BY running sum would plan `Exchange SinglePartition`
    // under the Window — the one-task stage that dies first at scale
    plan shouldNot include("SinglePartition")
    plan should include("Window") // the bounded per-chunk running sum
    plan should include("BroadcastHashJoin") // O(#chunks) offsets re-attach
  }

  test("duplicatedSpans: gram stages partial-aggregate; no single-partition stage") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = physical(graft.ops.CorpusOps.duplicatedSpans(docsDf, k = 8, minDocs = 2))
    // the hot-gram count (boilerplate shingles) must map-side combine,
    // and the only Window is partitioned by doc_id (bounded by doc length)
    plan should include("partial_")
    plan shouldNot include("SinglePartition")
  }
}
