package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** The reference's Gremlin/Groovy query-step surface (SURVEY.md §2.6)
  * re-expressed as composable `DataFrame => DataFrame` functions over the
  * materialized `nodes` / `edges` tables.
  *
  * Design rules carried over from the reference:
  *   - start-node selection is always an indexed lookup (`lookup.groovy:28-33`)
  *     → here: a pushdown-friendly filter on (kind, code);
  *   - traversals are batched joins, never per-row subqueries
  *     (`composition.groovy:58-64` documents exactly why) — nothing in this
  *     file collects to the driver;
  *   - reachability is visited-set BFS with an anti-join frontier, the
  *     "massive optimization" of `cfg.groovy:13-26` — not path enumeration;
  *   - slices are bounded transitive closures, default depth 5
  *     (`slice.groovy:2-3`); caps are semantics, not tuning.
  *
  * nodes: (id, kind, code, pageId, childNum, props)
  * edges: (src, dst, kind, variable)
  */
object Steps {

  // ---------- lookup steps (start-node selection) ----------

  /** ≙ getNodesWithTypeAndCode (`lookup.groovy:28-33`). */
  def nodesWithKindAndCode(nodes: DataFrame, kind: String, code: String): DataFrame =
    nodes.filter(col("kind") === kind && col("code") === code)

  /** ≙ getNodesWithTypeAndCode + textRegex (`misc.groovy:2-6`). */
  def nodesWithKindAndCodeRegex(nodes: DataFrame, kind: String, rx: String): DataFrame =
    nodes.filter(col("kind") === kind && col("code").rlike(rx))

  /** ≙ getFunctionsByFilename: pages of a host via IS_PAGE_OF. */
  def pagesOfHost(nodes: DataFrame, edges: DataFrame, host: String): DataFrame = {
    val hosts = nodesWithKindAndCode(nodes, graft.model.Schema.NodeKinds.Host, host)
    out(hosts, edges, nodes, graft.model.Schema.EdgeKinds.IsPageOf)
  }

  // ---------- hop steps (1-hop joins; ≙ getChildrenConnectedBy) ----------

  /** Follow out-edges of `kind` from `from` nodes: from ⋈ edges ⋈ nodes. */
  def out(from: DataFrame, edges: DataFrame, nodes: DataFrame, kind: String): DataFrame =
    from.select(col("id").as("src"))
      .join(edges.filter(col("kind") === kind), "src")
      .select(col("dst").as("id"))
      .join(nodes, "id")

  /** Follow in-edges of `kind` (reverse hop). */
  def in(from: DataFrame, edges: DataFrame, nodes: DataFrame, kind: String): DataFrame =
    from.select(col("id").as("dst"))
      .join(edges.filter(col("kind") === kind), "dst")
      .select(col("src").as("id"))
      .join(nodes, "id")

  /** Flow-label-filtered hop (≙ navigating FLOWS_TO by flowLabel — the
    * reference's True/False branch selection, `CFGEdge.java:12-18`). */
  def outLabeled(from: DataFrame, edges: DataFrame, nodes: DataFrame,
                 kind: String, label: String): DataFrame =
    from.select(col("id").as("src"))
      .join(edges.filter(col("kind") === kind && col("label") === label), "src")
      .select(col("dst").as("id"))
      .join(nodes, "id")

  /** Edge-property-filtered hop (≙ In/Out with prop filter, `misc.groovy:8-41`). */
  def outVar(from: DataFrame, edges: DataFrame, nodes: DataFrame, kind: String,
             vars: Seq[String]): DataFrame =
    from.select(col("id").as("src"))
      .join(edges.filter(col("kind") === kind && col("variable").isin(vars: _*)), "src")
      .select(col("dst").as("id"))
      .join(nodes, "id")

  /** i-th child by childNum (≙ ithChildren, `ast.groovy:44-49`). */
  def ithChildren(from: DataFrame, edges: DataFrame, nodes: DataFrame, kind: String,
                  i: Int): DataFrame =
    out(from, edges, nodes, kind).filter(col("childNum") === i)

  /** Number of out-neighbors (≙ numChildren, `ast.groovy:84-90`). */
  def outDegree(from: DataFrame, edges: DataFrame, kind: String): DataFrame =
    from.select(col("id").as("src"))
      .join(edges.filter(col("kind") === kind), "src")
      .groupBy("src").count()

  /** ≙ siblings (`ast.groovy:53-62`): parents().children() minus the origin
    * itself. The exclusion is per path (a node sharing a parent with ANOTHER
    * input node is still emitted for that other origin), and duplicates are
    * preserved like the reference pipe — two keyed hops, no driver loop. */
  def siblings(from: DataFrame, edges: DataFrame, nodes: DataFrame,
               kind: String): DataFrame = {
    val e = edges.filter(col("kind") === kind)
    val parents = from.select(col("id").as("dst")).join(e, "dst")
      .select(col("src"), col("dst").as("origin"))
    parents.join(e, "src")
      .filter(col("dst") =!= col("origin"))
      .select(col("dst").as("id"))
      .join(nodes, "id")
  }

  // ---------- per-page selection (≙ functionToASTNodes via functionId) ----------

  /** All nodes of one page — an indexed filter, not a traversal
    * (≙ functionToStatementsLookup vs Traverse, `function.groovy:48-55`). */
  def nodesOfPage(nodes: DataFrame, pageId: Long): DataFrame =
    nodes.filter(col("pageId") === pageId)

  // ---------- composition (≙ composition.groovy) ----------

  /** ≙ OR — duplicates preserved, as documented at `composition.groovy:8-14`. */
  def or(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** ≙ not(cl): keep rows of `from` whose page does NOT appear in `excl` —
    * left anti join on pageId (`composition.groovy:32-48`). */
  def notInPages(from: DataFrame, excl: DataFrame): DataFrame =
    from.join(excl.select("pageId").distinct(), Seq("pageId"), "left_anti")

  /** ≙ _emitForFunctions: semi-join batching instead of per-row subqueries. */
  def forPages(from: DataFrame, pages: DataFrame): DataFrame =
    from.join(pages.select("pageId").distinct(), Seq("pageId"), "left_semi")

  /** ≙ apiSyms (`misc.groovy:96-99`): the API-symbol codes of the input
    * rows' pages — the reference kind set {Callee, IdentifierDeclType,
    * Parameter} ↦ the KG's symbol-bearing page-local kinds (Mention,
    * Triple). Output is the code column, duplicates preserved like the
    * reference pipe; a pageId semi-join plus a kind-set filter, both
    * pushdown-friendly. */
  def apiSyms(from: DataFrame, nodes: DataFrame,
              kinds: Seq[String] = Seq(graft.model.Schema.NodeKinds.Mention,
                graft.model.Schema.NodeKinds.TripleN)): DataFrame =
    nodes.join(from.select("pageId").distinct(), Seq("pageId"), "left_semi")
      .filter(col("kind").isin(kinds: _*))
      .select(col("code"))

  // ---------- named descriptor combinators (`syntax/match.groovy:12-49`,
  // `taintTracking/interproc.groovy:108-151`): Column predicates to compose
  // with filter() — the reference's closure descriptors, minus the closures

  /** ≙ calls(regex) (`interproc.groovy:123-128`): Callee-kind rows whose
    * code CONTAINS the literal (the reference Pattern.quotes the argument
    * and pads with `.*`). Callee ↦ Mention, the call-site occurrence. */
  def callsDescriptor(literal: String): Column =
    col("kind") === graft.model.Schema.NodeKinds.Mention &&
      col("code").rlike(".*" + java.util.regex.Pattern.quote(literal) + ".*")

  /** ≙ checks(regex) (`interproc.groovy:108-113`): condition-kind rows whose
    * code contains the literal. The reference's condition kind set
    * {Equality, Relational, Primary, UnaryOp} ↦ Triple, the KG's
    * predicate-bearing node. */
  def checksDescriptor(literal: String): Column =
    col("kind") === graft.model.Schema.NodeKinds.TripleN &&
      col("code").rlike(".*" + java.util.regex.Pattern.quote(literal) + ".*")

  /** ≙ codeMatches(regex, s) (`interproc.groovy:130-136`): template regex
    * whose optional %s slot receives the QUOTED literal. */
  def codeMatchesDescriptor(template: String, s: String): Column = {
    val rx = if (template.contains("%s"))
      template.format(java.util.regex.Pattern.quote(s)) else template
    col("code").rlike(rx)
  }

  /** ≙ matchParents (`syntax/match.groovy:20-28`): walk toward the root over
    * the containment hierarchy (Mention→Page→Host→Domain), emitting every
    * ancestor matching `pred`. The hierarchy is 3 levels deep by schema, so
    * this is 3 batched in-hops, not an unbounded loop. */
  def matchParents(from: DataFrame, edges: DataFrame, nodes: DataFrame,
                   pred: Column): DataFrame = {
    val contain = Seq(graft.model.Schema.EdgeKinds.Mentions,
      graft.model.Schema.EdgeKinds.IsPageOf, graft.model.Schema.EdgeKinds.IsParentHost)
    val e = edges.filter(col("kind").isin(contain: _*)).select("src", "dst")
    var frontier = from.select(col("id"))
    var ancestors = frontier.limit(0)
    (0 until 3).foreach { _ =>
      frontier = frontier.select(col("id").as("dst")).join(e, "dst")
        .select(col("src").as("id")).distinct()
      ancestors = ancestors.unionByName(frontier)
    }
    ancestors.distinct().join(nodes, "id").filter(pred)
  }

  /** ≙ arg(f, i) (`syntax/match.groovy:34-41`): the i-th argument slot of
    * calls to `f` — Triple nodes whose predicate is `f`, hopped to slot 0
    * (SUBJ) or slot 1 (OBJ), the KG's ArgumentList.ithChildren navigation. */
  def argOfCalls(nodes: DataFrame, edges: DataFrame, f: String, i: Int): DataFrame = {
    require(i == 0 || i == 1, s"triple slots are 0 (SUBJ) / 1 (OBJ), got $i")
    out(nodesWithKindAndCode(nodes, graft.model.Schema.NodeKinds.TripleN, f),
      edges, nodes, if (i == 0) graft.model.Schema.EdgeKinds.Subject
      else graft.model.Schema.EdgeKinds.Object)
  }

  /** ≙ param(x) (`syntax/match.groovy:47-49`): Parameter-kind rows with code
    * matching x — Parameter ↦ Mention, the slot-filling occurrence. */
  def paramDescriptor(nodes: DataFrame, rx: String): DataFrame =
    nodesWithKindAndCodeRegex(nodes, graft.model.Schema.NodeKinds.Mention, rx)

  /** ≙ paramsToNames / paramsToTypes (`syntax/params.groovy:2-8`): project
    * param rows to their name (surface code) / declared-type analog (the
    * normalized form carried in props.norm). */
  def paramsToNames(params: DataFrame): DataFrame =
    params.select(col("code").as("name"))
  def paramsToTypes(params: DataFrame): DataFrame =
    params.select(try_element_at(col("props"), lit("norm")).as("type"))

  /** ≙ noMoreChildren (`syntax/ast.groovy:36-39`): rows with zero out-edges
    * of `kind` — an anti-join, the batched form of outE().count().is(0). */
  def noMoreChildren(from: DataFrame, edges: DataFrame, kind: String): DataFrame =
    from.join(edges.filter(col("kind") === kind).select(col("src").as("id")),
      Seq("id"), "left_anti")

  /** ≙ isStatement (`syntax/ast.groovy:51-53`: isCFGNode == 'True'): the
    * KG's CFG nodes are the Mention chain. */
  def isStatementCol: Column = col("kind") === graft.model.Schema.NodeKinds.Mention

  // ---------- reachability / slicing (iterative frontier joins) ----------

  /** Visited-set BFS over edges of `kinds`, up to `maxDepth` hops
    * (≙ reachableCfgNodes `cfg.groovy:18-26`; forwardSlice `slice.groovy`).
    * Returns distinct node ids (id) reachable from `seeds` (including seeds).
    *
    * Runs as GraphAnalytics.reachClosure's co-partitioned RDD rounds: each
    * round expands the new wavefront only and drops what is already visited
    * (cfg.groovy:21). `restrictFirstHopVars`: the slice semantics where only
    * the first hop is filtered by symbol set (`slice.groovy:30-38`). The
    * returned frame reads the closure's pin; every other pin is released. */
  def reachable(seeds: DataFrame, edges: DataFrame, kinds: Seq[String],
                maxDepth: Int = 5, forward: Boolean = true,
                restrictFirstHopVars: Option[Seq[String]] = None): DataFrame = {
    val e0 = edges.filter(col("kind").isin(kinds: _*))
    val visited = GraphAnalytics.reachClosure(e0, seeds, forward, maxDepth,
      firstHop = restrictFirstHopVars.map(vs => e0.filter(col("variable").isin(vs: _*))))
    GraphAnalytics.idFrame(edges.sparkSession, visited)
  }

  /** ≙ forwardSlice (`slice.groovy:1-45`): bounded closure over given edge
    * kinds, first hop restricted to `symbols`, returning full node rows. */
  def forwardSlice(seeds: DataFrame, edges: DataFrame, nodes: DataFrame,
                   symbols: Seq[String], depth: Int = 5,
                   kinds: Seq[String] = Seq("REACHES", "CONTROLS")): DataFrame =
    reachable(seeds, edges, kinds, depth, forward = true,
      restrictFirstHopVars = if (symbols.isEmpty) None else Some(symbols))
      .join(nodes, "id")

  def backwardSlice(seeds: DataFrame, edges: DataFrame, nodes: DataFrame,
                    symbols: Seq[String], depth: Int = 5,
                    kinds: Seq[String] = Seq("REACHES", "CONTROLS")): DataFrame =
    reachable(seeds, edges, kinds, depth, forward = false,
      restrictFirstHopVars = if (symbols.isEmpty) None else Some(symbols))
      .join(nodes, "id")

  /** ≙ edgesInX (`slice.groovy:102-109`): induced subgraph = double semi-join. */
  def inducedEdges(nodeSet: DataFrame, edges: DataFrame): DataFrame = {
    val ids = nodeSet.select(col("id")).distinct()
    edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
  }

  /** Loop membership (≙ isInLoop `cfg.groovy:28-34`): a node is in a cycle iff
    * it reaches itself in ≥1 hop. Computed per seed set via reachability. */
  def selfReaching(seeds: DataFrame, edges: DataFrame, kinds: Seq[String],
                   maxDepth: Int = 30): DataFrame = {
    val e0 = edges.filter(col("kind").isin(kinds: _*))
    // one-hop successors of each seed, then closure, then membership test —
    // batched for the whole seed set: (origin, id) pair frontier. The first
    // frontier is also the first `visited`, which the result reads; later
    // frontiers are temporary pins, and each pin's count is its emptiness
    var frontier = Materialize.pin(seeds.select(col("id").as("origin"))
      .join(e0.withColumnRenamed("src", "origin"), "origin")
      .select(col("origin"), col("dst").as("id")).distinct())
    var visited = frontier.df
    Materialize.withPins { pins =>
      var depth = 1
      while (frontier.count > 0 && depth < maxDepth) {
        frontier = pins(frontier.df.select(col("origin"), col("id").as("src"))
          .join(e0, "src")
          .select(col("origin"), col("dst").as("id")).distinct()
          .join(visited, Seq("origin", "id"), "left_anti"))
        if (frontier.count > 0) {
          val old = visited
          visited = Materialize.iterate(visited.union(frontier.df), depth)
          Materialize.release(old)
        }
        depth += 1
      }
    }
    visited.filter(col("origin") === col("id")).select(col("origin").as("id")).distinct()
  }

  /** ≙ the interproc expansion steps (`interproc.groovy:13-80`:
    * parameter ↔ caller-args via the call graph): navigate from mentions
    * THROUGH their linked entity to all co-referent mentions — possibly on
    * other pages. Two keyed hops over LINKS_TO (mention→entity forward,
    * entity→mention reverse); the cross-page fan-out is exactly joern's
    * caller-set expansion. */
  def corefMentions(seeds: DataFrame, edges: DataFrame, nodes: DataFrame): DataFrame = {
    val links = edges.filter(col("kind") === "LINKS_TO")
    val entities = seeds.select(col("id").as("src")).join(links, "src")
      .select(col("dst")).distinct()
    entities.join(links, "dst")
      .select(col("src").as("id"), col("dst").as("entityNodeId"))
      .join(nodes, "id")
  }

  /** ≙ functionToLocationStr / locations / joern-location (`function.groovy:
    * 2-11`, `ast/CodeLocation.java:14-19`, joern-tools `joern-location`):
    * human-readable "pageUrl:sent:tokStart:tokEnd" label per node via a
    * denormalizing join against the Page nodes. Mention nodes carry the
    * token span in their `loc` prop; nodes without one (hosts, entities,
    * triples) fall back to "pageUrl:childNum". */
  def withLocationLabel(nodes: DataFrame): DataFrame = {
    val pages = nodes.filter(col("kind") === "Page")
      .select(col("pageId").as("_pid"), col("code").as("_pageUrl"))
    nodes.join(pages, nodes("pageId") === pages("_pid"), "left")
      .withColumn("location",
        concat_ws(":", coalesce(col("_pageUrl"), lit("?")),
          // "loc" is the extractor's span prop; "location" is the key
          // RefCsvGraphSource stores the reference's own CodeLocation
          // string under — imported stores must not fall through to the
          // childNum degradation
          coalesce(try_element_at(col("props"), lit("loc")),
            try_element_at(col("props"), lit("location")),
            col("childNum").cast("string"))))
      .drop("_pid", "_pageUrl")
  }

  /** ≙ pairs(x,y) (`composition.groovy:69-85`): zip two result sets row by
    * row in a deterministic order. The reference zips two in-memory pipes;
    * relationally this is a row_number join — the global window is
    * intentionally single-partition, matching the reference's driver-side
    * semantics (use only on small result sets, like the reference does). */
  def zipPairs(x: DataFrame, y: DataFrame, orderCol: String = "id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
    val xs = x.withColumn("_rn", row_number().over(w))
      .select(col("_rn"), struct(x.columns.map(col): _*).as("first"))
    val ys = y.withColumn("_rn", row_number().over(w))
      .select(col("_rn"), struct(y.columns.map(col): _*).as("second"))
    xs.join(ys, "_rn").drop("_rn")
  }

  /** ≙ usesFiltered (`symbolGraph.groovy:13-30`): within each page, drop
    * nodes whose code is a strict substring of a LONGER node's code in the
    * same page (longest-match dedup; reference sorts by code length desc and
    * keeps non-contained). Exact duplicates are kept. Page-local group work
    * — shuffles once on pageId. */
  def longestMatchPerPage(nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val kept = nodes.select(col("pageId"), col("id"), col("code"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(r => (-r._3.length, r._2))
        val keptCodes = scala.collection.mutable.ArrayBuffer.empty[String]
        rows.iterator.filter { r =>
          val contained = keptCodes.exists(k => k.length > r._3.length && k.contains(r._3))
          if (!contained) keptCodes += r._3
          !contained
        }.map(_._2)
      }.toDF("id")
    nodes.join(kept, "id")
  }

  /** Loop-free chain slice via the BUILD-TIME closure column (≙ the
    * `statements`/`astNodes` interval trick SURVEY §2.6 prescribes:
    * `ast.groovy:72-78` walks the enclosing chain node by node; a
    * materialized position makes it a range filter). Mention nodes carry
    * their chain position as `childNum`, so a depth-d forward slice along
    * NEXT_MENTION is exactly "same page, childNum in [seedPos, seedPos+d]"
    * — ONE equi-join on pageId with a range residual, no iteration, no
    * localCheckpoint loop (equivalence vs the iterative slice is tested).
    * Seeds need (pageId, childNum). */
  def chainSliceByInterval(nodes: DataFrame, seeds: DataFrame, depth: Int = 5): DataFrame = {
    val s = seeds.select(col("pageId").as("_sPage"), col("childNum").as("_sPos"))
    nodes.filter(col("kind") === "Mention")
      .join(s, col("pageId") === col("_sPage") &&
        col("childNum") >= col("_sPos") && col("childNum") <= col("_sPos") + depth)
      .drop("_sPage", "_sPos")
      .dropDuplicates("id")
  }

  final case class ReachRow(pageId: Long, tag: String, a: Long, b: Long)
  final case class ReachHit(pageId: Long, src: Long, dst: Long, dist: Int)

  /** Shortest kill-avoiding distance on the page-local DAG (the BFS twin of
    * [[unsanitizedPairs]]' first-path DFS — exact shortest-path semantics,
    * so it stays oracle-able once the local graph branches): for each
    * (src, dst) candidate, the minimum hop count src→dst over `kinds` edges
    * expanding through no kill node (arriving AT a kill dst is allowed,
    * matching the DFS's arrival-before-kill-check order). Same cogroup
    * scale shape as unsanitizedPairs: one pageId shuffle, in-memory BFS per
    * page, paths never cross pages. */
  def shortestUnsanitized(nodes: DataFrame, edges: DataFrame, pairs: DataFrame,
                          killIds: DataFrame, kinds: Seq[String],
                          maxDepth: Int = 30): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val nodePage = nodes.select(col("id"), col("pageId"))
    val localEdges = edges.filter(col("kind").isin(kinds: _*))
      .join(nodePage.withColumnRenamed("id", "src"), "src")
      .select(col("pageId"), lit("e").as("tag"), col("src").as("a"), col("dst").as("b"))
    val kills = killIds.select(col("id")).distinct().join(nodePage, "id")
      .select(col("pageId"), lit("k").as("tag"), col("id").as("a"), lit(0L).as("b"))
    val ctx = localEdges.unionByName(kills).as[ReachRow].groupByKey(_.pageId)
    val prs = pairs.select(col("pageId"), lit("p").as("tag"),
      col("src").as("a"), col("dst").as("b")).as[ReachRow].groupByKey(_.pageId)
    ctx.cogroup(prs) { (pid, ctxIt, pairIt) =>
      val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val kill = scala.collection.mutable.HashSet.empty[Long]
      ctxIt.foreach { r =>
        if (r.tag == "e") adj.getOrElseUpdate(r.a, scala.collection.mutable.ArrayBuffer.empty) += r.b
        else kill += r.a
      }
      pairIt.flatMap { p =>
        if (p.a == p.b) Iterator(ReachHit(pid, p.a, p.b, 0))
        else {
          val dist = scala.collection.mutable.HashMap(p.a -> 0)
          val q = scala.collection.mutable.Queue(p.a)
          var found = -1
          while (found < 0 && q.nonEmpty) {
            val cur = q.dequeue()
            val d = dist(cur)
            // kill nodes are never EXPANDED (except the source itself)
            if (d < maxDepth && (cur == p.a || !kill.contains(cur))) {
              adj.getOrElse(cur, Nil).foreach { nxt =>
                if (!dist.contains(nxt)) {
                  if (nxt == p.b) found = d + 1
                  dist(nxt) = d + 1
                  q.enqueue(nxt)
                }
              }
            }
          }
          if (found >= 0) Iterator(ReachHit(pid, p.a, p.b, found)) else Iterator.empty
        }
      }
    }.toDF()
  }

  final case class GraphletHit(pageId: Long, seed: Long, nReach: Long, hasCond: Int)

  /** ≙ the initGraphs/taintedArgs battery (`queryTemplate.groovy:9-110`,
    * `initGraphs/localDefTree.groovy`, `conditions.groovy`): a CHEAP
    * necessary-condition prefilter (semi-join on qualifying pages — nothing
    * else is even shipped), then a per-page graphlet built in one cogroup,
    * then the sufficient check evaluated on the in-memory graphlet. Here:
    * from each page's seed mention, the ≤`depth`-hop neighborhood size over
    * `kinds` edges (seed included) and whether it touches a condition node.
    * seeds: (pageId, seed); condIds: (id). */
  def graphletReach(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                    condIds: DataFrame, kinds: Seq[String], depth: Int = 3): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val qualifying = seeds.select(col("pageId")).distinct()
    val nodePage = nodes.select(col("id"), col("pageId"))
    val localEdges = edges.filter(col("kind").isin(kinds: _*))
      .join(nodePage.withColumnRenamed("id", "src"), "src")
      .join(qualifying, Seq("pageId"), "left_semi") // the necessary-condition prefilter
      .select(col("pageId"), lit("e").as("tag"), col("src").as("a"), col("dst").as("b"))
    val conds = condIds.select(col("id")).distinct().join(nodePage, "id")
      .join(qualifying, Seq("pageId"), "left_semi")
      .select(col("pageId"), lit("c").as("tag"), col("id").as("a"), lit(0L).as("b"))
    val ctx = localEdges.unionByName(conds).as[ReachRow].groupByKey(_.pageId)
    val sds = seeds.select(col("pageId"), lit("s").as("tag"),
      col("seed").as("a"), lit(0L).as("b")).as[ReachRow].groupByKey(_.pageId)
    ctx.cogroup(sds) { (pid, ctxIt, seedIt) =>
      val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val cond = scala.collection.mutable.HashSet.empty[Long]
      ctxIt.foreach { r =>
        if (r.tag == "e") adj.getOrElseUpdate(r.a, scala.collection.mutable.ArrayBuffer.empty) += r.b
        else cond += r.a
      }
      seedIt.map { s =>
        var frontier = Set(s.a)
        val visited = scala.collection.mutable.HashSet(s.a)
        var d = 0
        while (d < depth && frontier.nonEmpty) {
          frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
            .filter(visited.add)
          d += 1
        }
        GraphletHit(pid, s.a, visited.size.toLong,
          if (visited.exists(cond.contains)) 1 else 0)
      }
    }.toDF()
  }

  // ---------- taint-style path queries (≙ taintTracking/dataflow.groovy) ----------

  /** Tagged page-local row for the cogroup: edge ("e", src, dst),
    * kill-node ("k", id, _), or candidate pair ("p", src, dst). */
  final case class PageLocalRow(pageId: Long, tag: String, a: Long, b: Long)
  final case class PathHit(pageId: Long, src: Long, dst: Long, pathLen: Int)

  /** ≙ `unsanitizedPaths` / `_cfgPaths` (`dataflow.groovy:68-98,111-182`):
    * for each candidate (src, dst) pair, is there a path src→…→dst over the
    * page's `kinds` edges on which no INTERMEDIATE node is in `killIds`
    * (sanitizer / redefinition analog)? Returns the surviving pairs.
    *
    * Reference semantics constants, carried over verbatim (they are query
    * semantics, not tuning): depth cap 30 (`dataflow.groovy:157-158`),
    * per-node revisit cap 2 (`isTerminationNode:175-182`), first-path
    * early exit (`:153-155`).
    *
    * Scale shape: candidate pairs come from cheap relational joins
    * (caller-supplied); the expensive path search is PAGE-LOCAL — edges and
    * kill ids are cogrouped by pageId and searched in-memory per page, so
    * the only shuffle is the pageId hash partition and no path ever crosses
    * pages (joern's path search never leaves one function either). */
  def unsanitizedPairs(nodes: DataFrame, edges: DataFrame, pairs: DataFrame,
                       killIds: DataFrame, kinds: Seq[String],
                       maxDepth: Int = 30, maxVisits: Int = 2): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val nodePage = nodes.select(col("id"), col("pageId"))
    val localEdges = edges.filter(col("kind").isin(kinds: _*))
      .join(nodePage.withColumnRenamed("id", "src"), "src")
      .select(col("pageId"), lit("e").as("tag"), col("src").as("a"), col("dst").as("b"))
    val kills = killIds.select(col("id")).distinct().join(nodePage, "id")
      .select(col("pageId"), lit("k").as("tag"), col("id").as("a"), lit(0L).as("b"))
    val ctx = localEdges.unionByName(kills).as[PageLocalRow].groupByKey(_.pageId)
    val prs = pairs.select(col("pageId"), lit("p").as("tag"),
      col("src").as("a"), col("dst").as("b")).as[PageLocalRow].groupByKey(_.pageId)

    ctx.cogroup(prs) { (pid, ctxIt, pairIt) =>
      val adj = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val kill = scala.collection.mutable.HashSet.empty[Long]
      ctxIt.foreach { r =>
        if (r.tag == "e") adj.getOrElseUpdate(r.a, scala.collection.mutable.ArrayBuffer.empty) += r.b
        else kill += r.a
      }
      pairIt.flatMap { p =>
        val visits = scala.collection.mutable.HashMap.empty[Long, Int]
        // first-path DFS; returns path length or -1
        def dfs(cur: Long, depth: Int): Int = {
          if (cur == p.b) depth
          else if (depth >= maxDepth) -1
          else {
            val seen = visits.getOrElse(cur, 0)
            if (seen >= maxVisits) -1
            else if (cur != p.a && kill.contains(cur)) -1 // sanitizer kills the path
            else {
              visits(cur) = seen + 1
              val succ = adj.getOrElse(cur, Nil)
              var i = 0; var found = -1
              while (i < succ.length && found < 0) {
                found = dfs(succ(i), depth + 1); i += 1 // early exit on first path
              }
              found
            }
          }
        }
        val len = if (p.a == p.b) 0 else dfs(p.a, 0)
        if (len >= 0) Iterator(PathHit(pid, p.a, p.b, len)) else Iterator.empty
      }
    }.toDF()
  }

  // ---------- neighborhood-hash graph kernel (≙ learning/neighborhoodHash.groovy) ----------

  /** Feature vectors: 2 iterations of label hashing over a node's out-edge
    * neighborhood, then bag-of-labels counts per page
    * (`neighborhoodHash.groovy:23-35`: newLabel = rot1(label) XOR xor(childLabels);
    * initial 16-bit label from kind/code, numbers collapsed — `:97-109`).
    *
    * `onKinds`: restrict the label frame to node kinds incident to
    * `edgeKind`. Non-incident nodes never influence any in-frame label (they
    * are never a dst of the edge kind), so the restriction only drops their
    * own rows from the bag — but it keeps them out of every per-iteration
    * join + checkpoint, which on the full KG table is ~3× less traffic
    * (Triple provenance nodes alone are ~60% of the node table and carry no
    * MENTIONS edges). Default = unrestricted, the reference's semantics. */
  /** The kernel's reusable seed frames — the deduped initial label frame
    * and the dst-partitioned edge frame, both pinned (Materialize.pin) and
    * owned by the caller. Split
    * out so a session cache (Queries.nhashFrames) can build them ONCE per
    * (kg, edge kind, frame restriction) and every kernel run reuses them:
    * they are pure functions of the built KG, the same
    * build-once-query-many shape as the encoded flat cache, and at bench
    * scale their construction (two shuffles over the node/edge tables) is
    * ~a third of the kernel's wall. */
  def neighborhoodHashFrames(nodes: DataFrame, edges: DataFrame,
                             edgeKind: String,
                             onKinds: Option[Seq[String]] = None): (DataFrame, DataFrame) = {
    val frame = onKinds match {
      case Some(ks) => nodes.filter(col("kind").isin(ks: _*))
      case None => nodes
    }
    // one label row per node IDENTITY: the nodes table may carry duplicate
    // rows for one id (e.g. the same url ingested twice → one Page id), and
    // without the dedup two self rows of one id would XOR-cancel their
    // rotation contributions inside the per-round aggregation below
    val initial = Materialize.pin(frame.select(col("id"), col("pageId"),
      (abs(when(col("code").rlike("^[0-9]+$"), xxhash64(lit("A_NUMBER")))
        .otherwise(xxhash64(col("kind"), col("code")))) % 65536).as("label"))
      .dropDuplicates("id")).df
    // edge frame shuffled onto its join key once and pinned, so no round
    // recomputes the dedup. The pin does NOT keep that partitioning: under
    // AQE a checkpointed frame reports `UnknownPartitioning`, so each
    // round's join still plans an exchange of the edges
    val e = Materialize.pin(edges.filter(col("kind") === edgeKind).select("src", "dst")
      // same identity argument for edges: a duplicated (src,dst) row would
      // XOR-cancel the child's contribution (this predates the union form —
      // the old per-round bit_xor had the identical blind spot)
      .dropDuplicates("src", "dst")
      .repartition(col("dst"))).df
    (initial, e)
  }

  def neighborhoodHashFeatures(nodes: DataFrame, edges: DataFrame,
                               edgeKind: String, iterations: Int = 2,
                               onKinds: Option[Seq[String]] = None): DataFrame = {
    val (initial, e) = neighborhoodHashFrames(nodes, edges, edgeKind, onKinds)
    val out = neighborhoodHashFeaturesFrom(initial, e, iterations)
    // once a round has run, the result reads only the last round's pin
    if (iterations > 0) Seq(initial, e).foreach(Materialize.release)
    out
  }

  /** Kernel rounds over pre-built seed frames (see neighborhoodHashFrames). */
  def neighborhoodHashFeaturesFrom(initial: DataFrame, e: DataFrame,
                                   iterations: Int = 2): DataFrame = {
    // each round references `labeled` twice (child xor + self rotate) and the
    // next round references the result again — checkpoint per round or the
    // lineage re-executes the whole chain at every reuse
    var labeled = initial
    (0 until iterations).foreach { it =>
      val rot1 = (shiftleft(col("label"), 1).bitwiseAND(lit(0xffffL)))
        .bitwiseOR(shiftright(col("label"), 15))
      // one round = one aggregation: the self-rotation and the child labels
      // are unioned as xor CONTRIBUTIONS keyed by the receiving node, then a
      // single bit_xor groupBy (declarative agg: map-side partial, codegen)
      // folds both — identical algebra to the old join+groupBy+left-join
      // round (newLabel = rot1(label) XOR xor(childLabels)) with one shuffle
      // less per round. A src outside the label frame has no self row →
      // its pageId aggregates to null → dropped, matching the old inner
      // re-join against `labeled` (frame pageIds are never null).
      val self = labeled.select(col("id"), col("pageId"), rot1.as("contrib"))
      val fromChildren = e
        .join(labeled.withColumnRenamed("id", "dst").select("dst", "label"), "dst")
        .select(col("src").as("id"), lit(null).cast("long").as("pageId"),
          col("label").as("contrib"))
      val prev = labeled
      labeled = self.unionByName(fromChildren)
        .groupBy("id")
        .agg(max("pageId").as("pageId"), (expr("bit_xor(contrib)") % 65536).as("label"))
        .filter(col("pageId").isNotNull)
        .transform(Materialize.iterate(_, it))
      // the result reads the last round; `initial` is the caller's
      if (prev ne initial) Materialize.release(prev)
    }
    labeled.groupBy("pageId", "label").count()
  }
}
