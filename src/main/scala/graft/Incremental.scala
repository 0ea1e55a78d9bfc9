package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.ConnectedComponents
import graft.extract.{FlatDict, FlatRowEnc, Lit, PatternAutomaton, PatternRule, TripleExtractor}
import graft.model.{GraphEdge, Ids, Page, Schema}
import graft.store.TableIO
import graft.util.{Materialize, Par}

/** Rule-diff incremental recompute — the full G3 shape (≙ joern's
  * ArgumentTainter re-analyzing only affected functions and patching the
  * graph delta, `tools/argumentTainter/ArgumentTainterMain.java`,
  * `ddg/DataDependenceGraph/DDGDifference.java`).
  *
  * Given (oldRules, newRules):
  *   1. diff the rule sets structurally;
  *   2. derive the affected-page predicate — a page can gain or lose a
  *      triple of a changed rule only if its text contains EVERY literal of
  *      that rule (the necessary-condition prefilter, same shape as the
  *      reference's `queryTemplate.groovy` literal pre-grep). Substring
  *      containment over lowercased text is a strict superset of the
  *      tokenizer's view, so no affected page can be missed;
  *   3. map affected urls to the triples-table buckets they hash into;
  *   4. re-extract ONLY pages hashing into those touched buckets (a bucket
  *      holds every page that hashes there, affected or not) under the new
  *      rules, reusing the materialized GLOBAL canonical mapping, and
  *      replace exactly those buckets in ONE [[TableIO.rewriteBuckets]]
  *      commit — until its manifest swap, readers see the old rows, and a
  *      crash before it changes nothing.
  *
  * If a `same_as` rule changed, the global canonical mapping itself is
  * stale and the recompute falls back to a full rebuild (all buckets) —
  * detected, not hoped away.
  *
  * Scale shape: the diff cost is proportional to |touched buckets| / |all
  * buckets| of the corpus, not to corpus size — extraction, canonical join
  * and write all run over the restricted page set only.
  */
object Incremental {

  /** Rules whose semantics changed: structural symmetric difference. */
  def changedRules(oldRules: Seq[PatternRule], newRules: Seq[PatternRule]): Seq[PatternRule] = {
    val o = oldRules.toSet
    val n = newRules.toSet
    ((o diff n) ++ (n diff o)).toSeq.sortBy(_.ruleId)
  }

  /** Necessary-condition page filter: SOME changed rule has ALL its literal
    * words contained in the page's EXTRACTED text — derived with the same
    * [[graft.extract.TextExtractor.pageText]] the extractor itself reads
    * (html-backed pages ignore the `text` column entirely, so a column
    * predicate over `text` would miss them and leave stale buckets). A
    * literal-free rule matches structurally anywhere → every page. */
  def affectedPages(pages: Dataset[Page], changed: Seq[PatternRule]): Dataset[Page] = {
    val litsPerRule: Seq[Seq[String]] =
      changed.map(_.items.collect { case Lit(w) => w.toLowerCase })
    if (litsPerRule.isEmpty) pages.limit(0)
    else if (litsPerRule.exists(_.isEmpty)) pages
    else pages.filter { p =>
      val txt = graft.extract.TextExtractor.pageText(p.html, p.text).toLowerCase
      litsPerRule.exists(lits => lits.forall(txt.contains))
    }
  }

  private def bucketCol(c: String, numBuckets: Int): Column =
    pmod(xxhash64(col(c)), lit(numBuckets)).cast("int")

  /** Remap canonical ids in both triple slots (broadcast — merge-sized). */
  private def applyRemap(t: DataFrame, r: DataFrame): DataFrame =
    t.join(broadcast(r.withColumnRenamed("from", "subj")
        .withColumnRenamed("to", "subjTo")), Seq("subj"), "left")
      .join(broadcast(r.withColumnRenamed("from", "obj")
        .withColumnRenamed("to", "objTo")), Seq("obj"), "left")
      .select(
        coalesce(col("subjTo"), col("subj")).as("subj"), col("pred"),
        coalesce(col("objTo"), col("obj")).as("obj"),
        col("objValue"), col("url"), col("conf"))

  /** Eager merge fallout on triples: the buckets holding rows whose
    * canonical ids changed, and those buckets' rows with the remap applied
    * (the content that replaces them). */
  private def staleTriples(spark: SparkSession, triplesDir: String,
                           remap: DataFrame, remapN: Long,
                           numBuckets: Int): (Set[Int], DataFrame) = {
    import spark.implicits._
    val old = TableIO.read(spark, triplesDir)
    // merges are usually few: below the literal threshold the stale-row
    // probe is ONE scan with an isin predicate that pushes into parquet
    // (row-group stats skip clean files); past it, two broadcast-semi
    // column scans. Either way only (subj|obj, url) columns are read.
    val staleUrls =
      if (remapN <= 256) {
        val ks = remap.select($"from").as[Long].collect().toSeq
        old.filter(col("subj").isin(ks: _*) || col("obj").isin(ks: _*)).select("url")
      } else {
        val keys = broadcast(remap.select($"from"))
        old.join(keys, col("subj") === col("from"), "left_semi").select("url")
          .union(old.join(keys, col("obj") === col("from"), "left_semi").select("url"))
      }
    val stale = Materialize.tally(staleUrls, numBuckets, "url").buckets("url")
    (stale, applyRemap(TableIO.read(spark, triplesDir, Some(stale)), remap)
      .dropDuplicates("subj", "pred", "obj", "objValue", "url"))
  }

  /** Append signed entity-refcount deltas EXACTLY ONCE. Deltas are not
    * idempotent by key (existing entities already have rows), so
    * exactly-once rests on a per-batch MARKER in the manifest counters:
    * addCounters sum-merges by key, a fresh key is an insert, and the
    * manifest commit is atomic with the data files — a redelivered batch
    * sees its marker and skips. Returns true when the marker was already
    * present (a resume). */
  private def appendRefDeltas(spark: SparkSession, outDir: String,
                              deltas: DataFrame, marker: String,
                              numBuckets: Int): Boolean = {
    val dir = s"$outDir/entity_refcounts"
    val applied = TableIO.readManifest(dir).exists(_.counters.contains(marker))
    if (!applied) {
      val pins = new Materialize.Pins(numBuckets)
      val d = pins(deltas)
      // an entity-free batch re-derives the same empty delta on any retry —
      // no marker needed, and committing one would be a pointless snapshot
      if (d.count > 0)
        TableIO.appendBucketed(d.df, dir, col("id"), Map(marker -> 1L), numBuckets)
      pins.releaseAll()
    }
    applied
  }

  /** Maintenance fold for the refcount delta log (the compact-verb family):
    * collapse to one row per entity (sum of signed deltas), dropping
    * zero-count entities — aggregate-equivalent by construction. The
    * whole-table overwrite keeps the manifest counters (incl. every batch
    * marker), so exactly-once holds across a fold. */
  def foldRefcounts(spark: SparkSession, outDir: String,
                    numBuckets: Int = TableIO.NumBuckets): Long = {
    val dir = s"$outDir/entity_refcounts"
    if (TableIO.readManifest(dir).isEmpty) return 0L
    val pins = new Materialize.Pins(numBuckets)
    val folded = pins(TableIO.read(spark, dir).groupBy("id")
      .agg(sum("n").as("n")).filter(col("n") =!= 0L))
    TableIO.rewriteBuckets(folded.df, dir, col("id"), (0 until numBuckets).toSet,
      numBuckets = numBuckets)
    pins.releaseAll()
    folded.count
  }

  /** Entity-id remap lifted to the SAME_AS node-id space (merge-sized). */
  private def nodeRemap(spark: SparkSession, r: DataFrame): DataFrame = {
    import spark.implicits._
    r.as[(Long, Long)]
      .map { case (f, t) => (Ids.entityNodeId(f), Ids.entityNodeId(t)) }
      .toDF("oldDst", "newDst")
  }

  private def applyEdgeRemap(e: DataFrame, remapNode: DataFrame): DataFrame =
    e.join(broadcast(remapNode),
      col("dst") === col("oldDst") && col("kind") === Schema.EdgeKinds.SameAs, "left")
      .select(col("src"), coalesce(col("newDst"), col("dst")).as("dst"),
        col("kind"), col("variable"), col("label"))

  /** Eager SAME_AS merge fallout on the edges table (dst references roots;
    * rows scatter by src hash): the buckets holding stale rows, and those
    * buckets' rows with the remap applied. */
  private def staleSameAs(spark: SparkSession, edgesDir: String, remap: DataFrame,
                          numBuckets: Int): (Set[Int], DataFrame) = {
    val remapNode = nodeRemap(spark, remap)
    val stale = Materialize.tally(TableIO.read(spark, edgesDir)
      .filter(col("kind") === Schema.EdgeKinds.SameAs)
      .join(broadcast(remapNode), col("dst") === col("oldDst"), "left_semi")
      .select("src"), numBuckets, "src").buckets("src")
    (stale, applyEdgeRemap(TableIO.read(spark, edgesDir, Some(stale)), remapNode))
  }

  /** Read the triples table with any pending merge remap applied — the
    * merge-on-read path. The broadcast join is merge-sized; the dedup is
    * what the physical rewrite would have done (url is in the dedup key and
    * determines the bucket, so it collapses only genuine within-page
    * duplicates). With no pending remap this is exactly `TableIO.read`. */
  def readTriples(spark: SparkSession, outDir: String): DataFrame = {
    val t = TableIO.read(spark, s"$outDir/triples")
    pendingRemap(spark, outDir) match {
      case None => t
      case Some(r) => applyRemap(t, r)
        .dropDuplicates("subj", "pred", "obj", "objValue", "url")
    }
  }

  /** Read the edges table with any pending merge remap applied to its
    * SAME_AS rows (the only edge kind referencing canonical roots). No
    * dedup needed: each mapped id has exactly one SAME_AS row and the remap
    * touches only its dst. */
  def readEdges(spark: SparkSession, outDir: String): DataFrame = {
    val e = TableIO.read(spark, s"$outDir/edges")
    pendingRemap(spark, outDir) match {
      case None => e
      case Some(r) => applyEdgeRemap(e, nodeRemap(spark, r))
    }
  }

  private def remapDir(outDir: String): String = s"$outDir/canon_remap"

  private def pendingRemap(spark: SparkSession, outDir: String): Option[DataFrame] =
    TableIO.readManifest(remapDir(outDir)) match {
      case Some(m) if m.buckets.values.sum > 0 =>
        Some(TableIO.read(spark, remapDir(outDir)))
      case _ => None
    }

  /** Fold a pending deferred remap into the physical triples AND edges rows
    * and drop the side table — the maintenance job that restores
    * zero-overhead reads (run it with [[TableIO.compact]] on the same
    * schedule; the KgCli `compact` verb does both). Idempotent: a crash
    * between the rewrites and the side-table delete re-applies a remap
    * whose `from` values no longer exist, a no-op. Returns the rewritten
    * (triplesBuckets, edgesBuckets). */
  def compactMergeRemap(spark: SparkSession, outDir: String,
                        numBuckets: Int = TableIO.NumBuckets): (Set[Int], Set[Int]) = {
    val rd = remapDir(outDir)
    if (TableIO.readManifest(rd).isEmpty) return (Set.empty, Set.empty)
    val pins = new Materialize.Pins(numBuckets)
    // the remap must survive the side-table delete below (blocks, not files)
    val r = pins(TableIO.read(spark, rd))
    val folded =
      if (r.count == 0) (Set.empty[Int], Set.empty[Int])
      else {
        val (tDir, eDir) = (s"$outDir/triples", s"$outDir/edges")
        val (ts, tRows) = staleTriples(spark, tDir, r.df, r.count, numBuckets)
        TableIO.rewriteBuckets(tRows, tDir, col("url"), ts, numBuckets = numBuckets)
        val (es, eRows) = staleSameAs(spark, eDir, r.df, numBuckets)
        TableIO.rewriteBuckets(eRows, eDir, col("src"), es, numBuckets = numBuckets)
        (ts, es)
      }
    TableIO.deleteRecursively(rd)
    pins.releaseAll()
    folded
  }

  /** Apply a rule diff to a materialized build at `outDir`. Returns the set
    * of recomputed triples buckets (empty = no-op diff). Every table it
    * rewrites keeps the build's counters and adds `ruleDiffTouchedBuckets`. */
  def applyRuleDiff(spark: SparkSession, pages: Dataset[Page],
                    oldRules: Seq[PatternRule], newRules: Seq[PatternRule],
                    outDir: String, nPersons: Int = 500,
                    numBuckets: Int = TableIO.NumBuckets): Set[Int] = {
    val changed = changedRules(oldRules, newRules)
    if (changed.isEmpty) return Set.empty

    // a same_as diff changes the connected-components input globally: the
    // materialized mapping is stale, so every bucket is affected
    val sameAsChanged = changed.exists(_.pred == "same_as")
    val touched: Set[Int] =
      if (sameAsChanged) (0 until numBuckets).toSet
      else Materialize.tally(affectedPages(pages, changed).toDF(), numBuckets, "url").buckets("url")
    if (touched.isEmpty) return Set.empty

    val restricted =
      if (touched.size == numBuckets) pages
      else pages.filter(bucketCol("url", numBuckets).isin(touched.toSeq: _*))
    val components =
      if (sameAsChanged) None
      else Some(TableIO.read(spark, s"$outDir/components"))
    val t = Pipeline.run(spark, restricted, nPersons,
      rules = newRules, precomputedComponents = components)
    val diff = Map("ruleDiffTouchedBuckets" -> touched.size.toLong)
    TableIO.rewriteBuckets(t.triples, s"$outDir/triples", col("url"), touched, diff, numBuckets)
    if (sameAsChanged) {
      // refresh the mapping table too — later diffs depend on it
      val all = (0 until numBuckets).toSet
      TableIO.rewriteBuckets(t.components, s"$outDir/components", col("id"), all, diff, numBuckets)
      // the evidence sidecar derives from the same_as rows — refresh it in
      // lockstep or a later removePages would recompute a stale mapping
      val evDir = s"$outDir/sameas_evidence"
      if (TableIO.readManifest(evDir).isDefined)
        TableIO.rewriteBuckets(Pipeline.sameAsEvidence(t.flat), evDir, col("a"), all, diff,
          numBuckets)
    }
    patchGraphTables(spark, t, outDir, sameAsChanged, diff, numBuckets)
    t.flatEnc.unpersist(false)
    if (components.isEmpty) t.components.unpersist(false)
    touched
  }

  /** Patch the materialized graph tables (when present) so they stay
    * consistent with the refreshed triples — the DDGDifference shape: drop
    * the affected subgraph, add the recomputed one. Rule-derived graph
    * content is exactly the Triple provenance nodes and their SUBJ/OBJ
    * edges (mentions/links/hosts come from the gazetteer, SAME_AS from the
    * mapping); `t` covers the re-extracted pages, so its Triple subgraph
    * replaces theirs. nodes/edges are bucketed by id/src — affected rows
    * scatter across every bucket, so the patch is a whole-table overwrite
    * (the patched frames read the table they replace; the commit lists its
    * files before it writes): O(|graph|) I/O but zero re-extraction CPU,
    * still far below a rebuild. The triples table itself stays O(touched
    * buckets). */
  private def patchGraphTables(spark: SparkSession, t: Pipeline.Tables,
                               outDir: String, fullRebuild: Boolean,
                               diff: Map[String, Long], numBuckets: Int): Unit = {
    if (TableIO.readManifest(s"$outDir/nodes").isEmpty) return
    val pins = new Materialize.Pins(numBuckets)
    val (newNodes, newEdges) =
      if (fullRebuild) (t.nodes, t.edges)
      else {
        val oldNodes = TableIO.read(spark, s"$outDir/nodes")
        val oldEdges = TableIO.read(spark, s"$outDir/edges")
        // stale = Triple nodes of the re-extracted pages, by old content ids
        val affectedPids = t.nodes.filter(col("kind") === "Page")
          .select(col("pageId")).distinct()
        val staleIds = pins(oldNodes.filter(col("kind") === "Triple")
          .join(affectedPids, Seq("pageId"), "left_semi")
          .select(col("id"))).df
        val pn = oldNodes.join(staleIds, Seq("id"), "left_anti")
          .unionByName(t.nodes.filter(col("kind") === "Triple"))
        // only SUBJ/OBJ edges have a Triple src, so one src anti-join drops
        // exactly the stale provenance edges
        val pe = oldEdges
          .join(staleIds.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .unionByName(t.edges.filter(col("kind").isin("SUBJ", "OBJ")))
        (pn, pe)
      }
    val all = (0 until numBuckets).toSet
    TableIO.rewriteBuckets(newNodes, s"$outDir/nodes", col("id"), all, diff, numBuckets)
    TableIO.rewriteBuckets(newEdges, s"$outDir/edges", col("src"), all, diff, numBuckets)
    pins.releaseAll()
  }

  final case class AppendStats(
      pages: Long,              // batch pages ingested (after lang filter)
      newMappingRows: Long,     // canonical-mapping rows added by the batch
      remappedIds: Long,        // old canonical ids whose root changed (merges)
      tripleBucketsRewritten: Int,
      edgeBucketsRewritten: Int,
      skippedTables: Seq[String]) // tables that already had the batch (resume)

  /** Corpus-growth ingest — the production increment for a crawl pipeline:
    * a batch of NEW pages (new urls) joins an already-materialized build at
    * `outDir`, for O(|batch|) extraction work plus an O(merge-fallout) patch.
    *
    * The interesting part is canonicalization. New pages can carry same_as
    * evidence that MERGES previously-distinct entity components, which
    * retroactively changes canonical ids in already-committed rows. The old
    * mapping (id → root) is itself a spanning forest of the old same-as
    * graph, so CC over (old mapping rows ∪ batch pairs) — an entity-sized
    * input, independent of corpus size — yields exactly the full-corpus
    * mapping (roots are min-ids on both CC paths, so they are corpus-order
    * independent). The fallout is then applied as deltas:
    *
    *   - triples: rows whose subj/obj canonical id changed are found by a
    *     broadcast semi-join (remap is merge-sized), and ONLY their buckets
    *     are replaced — in the same [[TableIO.commitBuckets]] that appends
    *     the batch: ONE write and ONE manifest swap. It is the Iceberg
    *     overwrite plus append: new files commit in the manifest before
    *     stale files drop, so no caller-side materialization is needed and a
    *     crash at any point loses nothing. The triple dedup key includes
    *     `url` and `url` determines the bucket, so bucket-local
    *     dropDuplicates after remapping equals the full rebuild's global
    *     dedup.
    *   - edges: only SAME_AS rows reference roots (entity/mention/page rows
    *     carry raw ids); stale ones (dst ∈ remapped roots) get the same
    *     bucket-subset replacement, in the one commit that also appends the
    *     batch edges and, as fresh SAME_AS edges, the mapping rows new in
    *     the merged mapping.
    *   - nodes: never reference roots — page-scoped rows (Page / Mention /
    *     Triple) append blindly; corpus-global rows (Host / Domain / Entity,
    *     the dimension tables of the graph) are deduped by an anti-join
    *     against only the buckets the batch's ids hash into.
    *   - components: the merged mapping overwrites the whole table — LAST,
    *     which makes a crashed append resumable (see below).
    *
    * Crash/retry: each data table commits ONCE, atomically (one manifest
    * swap covering its merge fallout and its batch rows), and a retry
    * detects per table whether the batch is already in (all-or-nothing key
    * overlap) and skips it. Because the components overwrite happens last,
    * a retry recomputes the SAME merged mapping and remap set from the
    * unchanged old mapping (CC is deterministic), and a table whose commit
    * landed finds no stale rows and no missing batch rows: it no-ops. A
    * batch that mixes new and already-ingested urls is rejected — a
    * re-crawled url is an UPDATE (invalidate + rewrite its bucket), not an
    * append.
    *
    * Scale shape: extraction, linking and canonical join are O(|batch|);
    * the CC input is O(|entities|); the dedup/overlap probes read only the
    * O(|batch|) buckets their keys hash into (driver-side file pruning);
    * merge fallout rewrites only the buckets holding affected rows. Nothing
    * scans the corpus. Each pinned frame costs one job: the job that fills
    * it also returns its row count and key buckets ([[Materialize.Pins]]). */
  /** `deferMergeRewrite`: the merge-on-read option. A merge into a popular
    * entity (the head-entity case) can make EVERY triples bucket stale —
    * and the hot component's SAME_AS edges scatter by src hash, staling the
    * edges table the same way — so the eager default pays near-full-table
    * rewrites at append time. With deferral, the remap lands in ONE tiny
    * side table (`<outDir>/canon_remap`, entity-id space): [[readTriples]]
    * and [[readEdges]] apply it as broadcast joins, and
    * [[compactMergeRemap]] — the monthly maintenance job, like
    * [[TableIO.compact]] — folds it into both tables' rows and drops it.
    * Appends stay O(batch) no matter how hot the merged entity is; reads
    * between merge and compaction pay one small broadcast join. Successive
    * deferred remaps COMPOSE (old chain routed through the new mapping),
    * and an eager append onto a table with a pending remap folds it first.
    * Note: direct `TableIO.read` of triples/edges sees the PHYSICAL
    * (pre-merge) rows until compaction — readers that must see current
    * canonical ids go through readTriples/readEdges (KgCli does). */
  def appendPages(spark: SparkSession, newPages: Dataset[Page], outDir: String,
                  nPersons: Int = 500, targetLang: String = "en",
                  rules: Seq[PatternRule] = PatternAutomaton.DefaultRules,
                  numBuckets: Int = TableIO.NumBuckets,
                  deferMergeRewrite: Boolean = false): AppendStats = {
    import spark.implicits._
    import Schema.{EdgeKinds => EK, NodeKinds => NK}
    Seq("triples", "nodes", "edges", "components", "sameas_evidence",
        "entity_refcounts").foreach { t =>
      require(TableIO.readManifest(s"$outDir/$t").isDefined,
        s"appendPages requires a fully materialized build at $outDir (missing $t)")
    }
    // an EAGER append must see physically-canonical rows — fold any pending
    // deferred remap first so the stale-row probe can trust the bytes
    if (!deferMergeRewrite) compactMergeRemap(spark, outDir, numBuckets)

    // ---- extract the batch (O(|batch|), the same stage-2 as a full run) ----
    // a crawl micro-batch may carry the same url twice (re-fetch inside the
    // batch window) — resolve to ONE row per url deterministically (latest
    // warc_ts, content-hash tie-break) so the batch is a set of pages and
    // the per-table resume guards agree with each other
    val dedupPages = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("url")
        .orderBy(col("warc_ts").desc, xxhash64(col("text")), xxhash64(col("html")),
          col("lang")) // lang included: rows differing ONLY in lang must
                       // still resolve identically on every retry
      newPages.toDF().withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn").as[Page]
    }
    // the build's extraction and kind-sorted encoded cache
    val ex = TripleExtractor.flat(dedupPages.filter($"lang" === targetLang), nPersons, rules)
    val flatBEnc = TripleExtractor.cached(ex.enc)
    val flatB = ex.decode(flatBEnc)
    // one aggregate: the manifest counters, the batch tag and the same-as
    // row count (whether the batch carries any same-as pair at all)
    val fc = Pipeline.flatCounters(flatB)
    val batchCounters = fc.counters
    val nBatch = batchCounters("pagesIn")
    if (nBatch == 0L) { flatBEnc.unpersist(false); return AppendStats(0, 0, 0, 0, 0, Nil) }

    val pins = new Materialize.Pins(numBuckets) // released after the last chain is awaited
    // the batch's pages, with the buckets their ids (nodes) and their hosts
    // (the IS_PAGE_OF edges) hash into
    val pRows = pins(flatB.filter($"rowKind" === "p").select($"pageId".as("id"), $"hostId"),
      "id", "hostId")
    val pageIds = pRows.df.select("id")

    // ---- the AUTHORITATIVE batch-vs-corpus check, BEFORE anything commits:
    // Page nodes cover every ingested page (triple-url overlap would miss
    // zero-triple pages and could let one table commit while another
    // rejects — a permanent split). All-or-nothing: all present = resume,
    // none = fresh append, a mix = misuse, rejected atomically. It and the
    // edges table's resume probe need only the batch pages, so both run
    // while the merged mapping is computed.
    val nodesDir = s"$outDir/nodes"
    val edgesDir = s"$outDir/edges"
    val pageOverlapF = Par(Materialize.count(
      TableIO.read(spark, nodesDir, Some(pRows.buckets("id")))
        .filter(col("kind") === Schema.NodeKinds.Page)
        .join(pageIds, Seq("id"), "left_semi")))
    val edgeOverlapF = Par(Materialize.count(
      TableIO.read(spark, edgesDir, Some(pRows.buckets("hostId")))
        .filter(col("kind") === EK.IsPageOf)
        .join(pageIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select("dst").distinct()))

    // ---- merged canonical mapping (entity-sized CC, corpus-independent) ----
    val oldComponents = TableIO.read(spark, s"$outDir/components")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val havePairs = fc.sameAsRows > 0
    val components2 =
      if (!havePairs) oldComponents
      else ConnectedComponents.auto(spark,
        oldComponents.select($"id".as("a"), $"component".as("b"))
          .unionByName(Pipeline.sameAsRows(flatB).select("a", "b").distinct()))
        .persist(StorageLevel.MEMORY_AND_DISK)
    // remap: old canonical value (root, or the raw id of a previously
    // unmapped singleton) → new root, where they differ. Merge-sized.
    val remapF = Par {
      if (!havePairs) (Seq.empty[(Long, Long)].toDF("from", "to"), 0L)
      else {
        val r = pins(components2
          .join(oldComponents.withColumnRenamed("component", "oldC"), Seq("id"), "left")
          .select(coalesce($"oldC", $"id").as("from"), $"component".as("to"))
          .filter($"from" =!= $"to").distinct())
        (r.df, r.count)
      }
    }
    // mapping rows the batch introduces — computed ONCE (stat + the fresh
    // SAME_AS edge source share it)
    val freshF = Par {
      if (!havePairs) (Seq.empty[(Long, Long)].toDF("id", "component"), 0L)
      else {
        val f = pins(components2.join(oldComponents.select("id"), Seq("id"), "left_anti"))
        (f.df, f.count)
      }
    }
    Par.awaitAll(pageOverlapF, remapF, freshF)
    val pageOverlap = Par.await(pageOverlapF)
    require(pageOverlap == 0 || pageOverlap == nBatch,
      s"batch mixes new and already-ingested urls ($pageOverlap of $nBatch " +
        s"already in $nodesDir) — a re-crawled url is an update, not an append")
    val (remap, remapN) = Par.await(remapF)
    val (freshMapping, newMappingRows) = Par.await(freshF)

    // ---- the three data tables are INDEPENDENT — patch them as concurrent
    // jobs (the materialize precedent): the append path is dominated by
    // driver-synchronized round trips, and on a real cluster three output
    // pipelines sharing the executor pool beat a serial walk just the same.
    // triples and edges each commit ONCE: the merge-stale buckets are
    // replaced (their remapped rows plus the batch rows hashing there) and
    // the batch's other rows append, in one write and one manifest swap

    // ---- triples: merge-stale buckets and the batch in one commit ----
    val triplesDir = s"$outDir/triples"
    val triplesF = Par {
    // the merge-stale probe (read-only) runs beside the batch's resume probe
    val staleF = Par {
      if (remapN == 0 || deferMergeRewrite) (Set.empty[Int], null)
      else staleTriples(spark, triplesDir, remap, remapN, numBuckets)
    }
    val triplesB = Pipeline.canonicalizeTriples(flatB, components2)
    val batchUrls = pins(triplesB.select($"url").distinct(), "url")
    val nUrls = batchUrls.count
    // per-table resume detection (mixed batches were already rejected by the
    // authoritative page-node check; a partial overlap here can only mean a
    // corrupted table — every commit is all-or-nothing)
    val tripOverlap =
      if (nUrls == 0) 0L
      else Materialize.count(TableIO.read(spark, triplesDir, Some(batchUrls.buckets("url")))
        .join(batchUrls.df, Seq("url"), "left_semi").select("url").distinct())
    assert(tripOverlap == 0 || tripOverlap == nUrls,
      s"triples table at $triplesDir holds a partial batch ($tripOverlap of $nUrls urls)")
    // a batch extracting ZERO triples has no url to probe — fall back to the
    // authoritative page check, or a redelivery would append (and re-count)
    // its empty frame's counters a second time
    val tripApplied =
      if (nUrls == 0) pageOverlap == nBatch else tripOverlap == nUrls

    if (remapN > 0 && deferMergeRewrite) {
      // merge-on-read: record the remap in the side table, touch no data
      // file. A pending chain is ROUTED through the new mapping first so
      // one read-time lookup always reaches the current root.
      val rd = remapDir(outDir)
      val pending = TableIO.readManifest(rd)
        .map(_ => TableIO.read(spark, rd))
        .getOrElse(Seq.empty[(Long, Long)].toDF("from", "to"))
      val hop = remap.withColumnRenamed("from", "t0").withColumnRenamed("to", "t1")
      val routed = pending.join(broadcast(hop), pending("to") === hop("t0"), "left")
        .select(pending("from"), coalesce($"t1", pending("to")).as("to"))
      TableIO.rewriteBuckets(routed.unionByName(remap).dropDuplicates("from", "to"),
        rd, col("from"), Set(0), numBuckets = 1)
    }
    val (stale, remapped) = Par.await(staleF)
    commitPatch(triplesDir, col("url"), stale, remapped, Option.unless(tripApplied)(triplesB),
      batchCounters, numBuckets)
    (tripApplied, stale)
    }

    // ---- graph tables: batch subgraph + SAME_AS delta ----
    // empty mapping here: graphTables derives only its SAME_AS rows from the
    // mapping, and those are handled as an explicit delta below
    val emptyComp = Seq.empty[(Long, Long)].toDF("id", "component")
    val (nodesB, edgesB) = Pipeline.graphTables(spark, flatB, emptyComp)

    // ---- edges: merge-stale SAME_AS buckets and the batch in one commit ----
    val edgesF = Par {
    // SAME_AS rows are the only edges referencing canonical roots; their
    // merge fallout scatters by src hash, so a hot merge makes this a
    // near-full-table rewrite too — the SAME deferral applies (the node-id
    // remap derives from the entity-id side table, so one table serves
    // both). The stale probe runs beside the batch's dedup pin.
    val staleF = Par {
      if (remapN == 0 || deferMergeRewrite) (Set.empty[Int], null)
      else staleSameAs(spark, edgesDir, remap, numBuckets)
    }
    val edgeOverlap = Par.await(edgeOverlapF)
    assert(edgeOverlap == 0 || edgeOverlap == nBatch,
      s"edges table at $edgesDir holds a partial batch ($edgeOverlap of $nBatch pages)")
    val edgesApplied = edgeOverlap == nBatch
    val batch = Option.unless(edgesApplied) {
      val freshSameAs =
        freshMapping
          .as[(Long, Long)]
          .map { case (id, comp) =>
            GraphEdge(Ids.entityNodeId(id), Ids.entityNodeId(comp), EK.SameAs, null) }
          .toDF().select(col("src"), col("dst"), col("kind"), col("variable"), col("label"))
      // IS_PARENT_HOST rows are dimension edges (one per distinct host) —
      // like the dimension nodes, dedup against the buckets they hash into;
      // every other batch edge is page-scoped and cannot pre-exist
      val ph = pins(edgesB.filter(col("kind") === EK.IsParentHost), "src")
      val phExisting = TableIO.read(spark, edgesDir, Some(ph.buckets("src")))
        .filter(col("kind") === EK.IsParentHost).select("src", "dst")
      val novelPh = ph.df.join(phExisting, Seq("src", "dst"), "left_anti")
      edgesB.filter(col("kind") =!= EK.IsParentHost)
        .unionByName(novelPh).unionByName(freshSameAs)
    }
    val (stale, remapped) = Par.await(staleF)
    commitPatch(edgesDir, col("src"), stale, remapped, batch, batchCounters, numBuckets)
    (edgesApplied, stale)
    }

    val nodesF = Par {
    // the authoritative pre-check already counted this table's Page rows
    val nodesApplied = pageOverlap == nBatch
    if (!nodesApplied) {
      val pageScoped = nodesB.filter(col("kind").isin(NK.Page, NK.Mention, NK.TripleN))
      // dimension rows (host/domain/entity universe ≪ corpus): dedup against
      // only the buckets the batch's ids hash into
      val globals = pins(nodesB.filter(col("kind").isin(NK.Host, NK.Domain, NK.Entity)), "id")
      val existing = TableIO.read(spark, nodesDir, Some(globals.buckets("id")))
        .filter(col("kind").isin(NK.Host, NK.Domain, NK.Entity)).select("id")
      val novel = globals.df.join(existing, Seq("id"), "left_anti")
      TableIO.appendBucketed(pageScoped.unionByName(novel), nodesDir, col("id"),
        batchCounters, numBuckets)
    }
    nodesApplied
    }

    val evidenceF = Par {
    // same-as evidence rides with every batch: the takedown path
    // (removePages) recomputes the canonical mapping from this table, so an
    // append must keep it exactly what a full rebuild would extract. Rows
    // are keyed (a, b, url), bucketed by a — the resume probe reads only the
    // batch pairs' buckets. A pair-free batch has no evidence to add.
    val evDir = s"$outDir/sameas_evidence"
    havePairs && {
      val evB = pins(Pipeline.sameAsEvidence(flatB), "a")
      val evOverlap = Materialize.count(TableIO.read(spark, evDir, Some(evB.buckets("a")))
        .join(evB.df, Seq("a", "b", "url"), "left_semi"))
      assert(evOverlap == 0 || evOverlap == evB.count,
        s"evidence table at $evDir holds a partial batch ($evOverlap of ${evB.count} pairs)")
      val evApplied = evOverlap == evB.count
      if (!evApplied) TableIO.appendBucketed(evB.df, evDir, col("a"), batchCounters, numBuckets)
      evApplied // "skipped" = a genuine resume, not an empty batch
    }
    }

    val refcountF = Par {
    // entity refcount delta log: the batch's per-entity mention counts
    // append as positive deltas. Deltas are NOT idempotent by key (existing
    // entities already have rows), so exactly-once rests on a per-batch
    // MARKER in the manifest counters: addCounters sum-merges by key, a
    // fresh key is an insert, and the manifest commit is atomic with the
    // data files — a redelivered batch sees its marker and skips.
    appendRefDeltas(spark, outDir, Pipeline.entityRefDeltas(flatB),
      "batch_" + fc.batchTag, numBuckets)
    }

    Par.awaitAll(triplesF, edgesF, nodesF, evidenceF, refcountF)
    val (tripApplied, tripleBucketsRewritten) = Par.await(triplesF)
    val (edgesApplied, edgeBucketsRewritten) = Par.await(edgesF)
    val nodesApplied = Par.await(nodesF)
    val evApplied = Par.await(evidenceF)

    // ---- components: whole-table overwrite LAST (the retry-convergence
    // anchor; components2 reads the table, and nothing reads it after).
    // Overwrite only when the batch actually CHANGED the mapping (merges or
    // new rows): a redelivered batch computes components2 from the already-
    // overwritten table, both deltas are zero, and overwriting again would
    // both pay a pointless O(|mapping|) rewrite and double-add the batch
    // counters. A retry after a crash before the overwrite still sees
    // nonzero deltas (the old table is unchanged) and completes it — with
    // the counters added exactly once, since the crashed run never got here.
    // Counter semantics (deliberate): the components manifest's counters
    // advance only with mapping-CHANGING batches — it is a derived
    // dimension table, not an ingest log; the three data tables carry the
    // per-batch lineage.
    if (havePairs && (remapN > 0 || newMappingRows > 0))
      TableIO.rewriteBuckets(components2.toDF(), s"$outDir/components", col("id"),
        (0 until numBuckets).toSet, batchCounters, numBuckets)

    val skipped = Seq(
      if (tripApplied) Some("triples") else None,
      if (edgesApplied) Some("edges") else None,
      if (nodesApplied) Some("nodes") else None,
      if (evApplied) Some("sameas_evidence") else None).flatten
    pins.releaseAll()
    flatBEnc.unpersist(false)
    oldComponents.unpersist(false)
    if (havePairs) components2.unpersist(false)
    AppendStats(nBatch, newMappingRows, remapN,
      tripleBucketsRewritten.size, edgeBucketsRewritten.size, skipped)
  }

  /** One append commit to a data table: the merge-stale buckets `stale` are
    * replaced by `remapped` (their rows with the remap applied) plus the
    * batch rows hashing there, and the batch's other rows append; the batch
    * counters go in with the batch. A no-op when there is neither. */
  private def commitPatch(dir: String, key: Column, stale: Set[Int], remapped: DataFrame,
                          batch: Option[DataFrame], counters: Map[String, Long],
                          numBuckets: Int): Unit = {
    val rows = (Option.when(stale.nonEmpty)(remapped) ++ batch).reduceOption(_ unionByName _)
    rows.foreach(r => TableIO.commitBuckets(r, dir, key, stale, appendRest = batch.isDefined,
      TableIO.sumCounters(_, if (batch.isDefined) counters else Map.empty), numBuckets))
  }

  final case class RemoveStats(
      pages: Long,        // batch pages actually removed (present ∩ lang)
      deadPairs: Long,    // same-as pairs whose LAST evidence left the corpus
      remappedIds: Long,  // entity ids whose canonical root changed/vanished
      deadHosts: Long, deadDomains: Long, deadEntities: Long,
      tripleBucketsRewritten: Int, // incl. the split-fallout rewrites
      edgeBucketsRewritten: Int,
      nodeBucketsRewritten: Int,
      affectedUrls: Long) // surviving pages re-derived by the split fallout

  /** Takedown propagation — the retraction increment (GDPR/DMCA removal at
    * corpus scale): delete a batch of pages from a materialized build so
    * every table equals a FULL REBUILD over the remaining corpus. The
    * inverse of [[appendPages]], and the hard direction of canonicalization:
    * a removed page can carry the LAST same-as evidence for an entity
    * merge, which retroactively SPLITS a canonical component — and a split
    * is not a function of the stored canonical value (two raw ids sharing a
    * root diverge), so unlike the merge case it cannot be patched by a
    * value remap or deferred to read time.
    *
    * What gets deleted: the batch's exact build-time rows are re-DERIVED by
    * re-running the deterministic extraction on the removed pages (O(batch))
    * — that IS the delete manifest: every page-scoped key, candidate
    * dimension id and candidate same-as pair, with no tombstone bookkeeping
    * to keep in sync. Page-scoped node/edge ids are kind-prefixed hashes, so
    * an anti-join on them cannot touch dimension rows; dimension rows
    * (Host/Domain/Entity) die only when their last referencing page leaves.
    *
    * Shape: after the presence probe, three independent chains run as
    * concurrent jobs (the [[appendPages]] precedent), each reading only the
    * candidates' buckets — no corpus-wide scan on the fast path:
    *   - A: the negative refcount deltas append to `entity_refcounts`, then
    *     entity liveness reads the candidates' buckets of that delta log
    *     (post-batch sum == 0 ⇒ dead);
    *   - B: the batch's `sameas_evidence` rows drop, pairs whose LAST
    *     evidence left are detected, and only if there are any (the slow
    *     path) connected components are recomputed over the SURVIVING
    *     evidence — O(evidence), exactly the full rebuild's input — and
    *     diffed against the old mapping (`changed`: old id → old/new root);
    *   - C: host liveness (IS_PAGE_OF, bucketed by host), then domain
    *     liveness (IS_PARENT_HOST_OF, bucketed by domain).
    * Two table rewrites hang off them. Triples probe for the batch urls at
    * once, then wait for B: surviving pages whose rows reference a changed
    * root are re-extracted from `remaining` under the new mapping, and ONE
    * [[TableIO.rewriteBuckets]] over urlBuckets ∪ affBuckets drops the batch
    * and affected urls and unions in the re-derived rows. Edges probe for
    * the batch's page-scoped rows at once, then wait for B and C: one
    * rewrite drops page-scoped, dead-host and stale SAME_AS rows and adds
    * the new SAME_AS delta. The components overwrite and the nodes rewrite
    * follow, in that order.
    *
    * Every pin is a [[Materialize.Pins]] pin whose filling job also returns
    * the row count and key buckets the chains branch on, and every count or
    * emptiness probe is one job ([[Materialize.tally]]); none of this moves
    * a commit, so the ordering below is unchanged.
    *
    * Crash/retry: idempotent. Each table commit is atomic, and four
    * ordering edges keep any crash point resumable:
    *   1. the refcount deltas land before entity liveness reads them (the
    *      batch marker makes the append exactly-once);
    *   2. the SAME_AS edge delta (and the triples fallout) land before the
    *      components overwrite, so a crash between them re-derives the same
    *      `changed` from the unchanged old mapping;
    *   3. the components overwrite lands before the nodes anchor;
    *   4. the page NODES are the presence anchor and drop LAST.
    * A retry first probes the anchor: all gone means the removal completed
    * (early no-op; negative manifest counters cannot double-subtract); still
    * present means every chain re-runs, and each step either detects it
    * already applied (key probes find nothing) or converges (rewrites are
    * replace-by-content; liveness probes exclude the batch rows explicitly,
    * so they read the same answer either side of a rewrite). The evidence,
    * triples and edges rewrites subtract the batch's manifest counters only
    * while their probe still finds batch rows, so a re-applied rewrite never
    * subtracts twice. A takedown list may carry never-crawled or
    * already-removed urls — they restrict away against the presence probe
    * and no-op. */
  def removePages(spark: SparkSession, removedPages: Dataset[Page],
                  remaining: Dataset[Page], outDir: String,
                  nPersons: Int = 500, targetLang: String = "en",
                  rules: Seq[PatternRule] = PatternAutomaton.DefaultRules,
                  numBuckets: Int = TableIO.NumBuckets): RemoveStats = {
    import spark.implicits._
    import Schema.{EdgeKinds => EK}
    Seq("triples", "nodes", "edges", "components", "sameas_evidence",
        "entity_refcounts").foreach { tb =>
      require(TableIO.readManifest(s"$outDir/$tb").isDefined,
        s"removePages requires a fully materialized build at $outDir (missing $tb)")
    }
    // eager semantics: fold any pending deferred merge remap first (the
    // eager-append rule) so the probes below can trust the physical bytes
    compactMergeRemap(spark, outDir, numBuckets)
    // a using-columns join MOVES the join keys to the front — the rewritten
    // buckets must keep the table's committed column order or readers of a
    // patched table would see a different physical schema than a rebuild's
    def keepOrder(df: DataFrame, like: Seq[String]): DataFrame =
      df.select(like.map(col): _*)

    // the build's extraction, cached encoded for the presence probe
    val ex = TripleExtractor.flat(removedPages.filter($"lang" === targetLang), nPersons, rules)
    val flatR0 = ex.enc.persist(StorageLevel.MEMORY_AND_DISK)

    val pins = new Materialize.Pins(numBuckets) // released after the last chain is awaited
    // presence anchor: restrict to pages actually IN the build
    val nodesDir = s"$outDir/nodes"
    val batchPageIds = pins(flatR0.filter(col("rowKind") === FlatDict.KindP)
      .select($"pageId".as("id")), "id")
    val presentPages = pins(TableIO.read(spark, nodesDir, Some(batchPageIds.buckets("id")))
      .filter(col("kind") === Schema.NodeKinds.Page)
      .join(batchPageIds.df, Seq("id"), "left_semi")
      .select(col("id").as("presentPid")))
    val nPresent = presentPages.count
    if (nPresent == 0L) {
      flatR0.unpersist(false); pins.releaseAll()
      return RemoveStats(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    }
    // restricted on the ENCODED rows; every chain reads the cache's view
    val flatREnc = TripleExtractor.cached(flatR0.toDF()
      .join(presentPages.df, col("pageId") === col("presentPid"), "left_semi")
      .as[FlatRowEnc])
    val flatR = ex.decode(flatREnc)
    // the counter job also fills the flat cache every chain below reads; its
    // same-as row count says whether the batch carries any same-as pair
    val fc = Pipeline.flatCounters(flatR)
    val negCounters = fc.counters.map { case (k, v) => k -> -v }
    flatR0.unpersist(false)

    // the batch's pages, with the buckets their urls (triples) and their
    // hosts (the IS_PAGE_OF edges) hash into
    val pRows = pins(flatR.filter($"rowKind" === "p")
      .select($"pageId", $"url", $"host", $"hostId"), "url", "hostId")
    val urls = pRows.df.select("url")
    val pageIds = pRows.df.select($"pageId".as("id"))
    val mentionIds = flatR.filter($"rowKind" === "m").select($"mentionId".as("id"))
    val tripleNodeIds = flatR.filter($"rowKind" === "t" && $"tripleNodeId" =!= 0L)
      .select($"tripleNodeId".as("id")).distinct()

    // ---- chain A: refcount deltas, then entity liveness ----
    val deadEntsF = Par {
      // exactly-once via the batch marker; liveness is defined on POST-batch
      // sums, so retries on either side of this append read the same answer
      appendRefDeltas(spark, outDir,
        Pipeline.entityRefDeltas(flatR).select(col("id"), (-col("n")).as("n")),
        "takedown_" + fc.batchTag, numBuckets)
      val entCand = pins(flatR.filter($"rowKind" === "m" && $"entityId" >= 0)
        .select($"entityId".as("id"), $"entityNodeId".as("e")).distinct(), "id")
      val liveIds = TableIO.read(spark, s"$outDir/entity_refcounts",
          Some(entCand.buckets("id")))
        .join(entCand.df.select("id"), Seq("id"), "left_semi")
        .groupBy("id").agg(sum($"n").as("n")).filter($"n" > 0)
        .select("id")
      val deadEnts = pins(entCand.df.join(liveIds, Seq("id"), "left_anti").select($"e"))
      (deadEnts.df, deadEnts.count)
    }

    // ---- chain B: evidence drop, dead pairs, then the mapping refresh ----
    // `changed` (id, oldComp, newComp) and `newC` stay null on the fast path
    case class Split(deadPairs: Long, changed: DataFrame, newC: DataFrame, remapped: Long)
    val evDir = s"$outDir/sameas_evidence"
    val compDir = s"$outDir/components"
    val splitF = Par {
      val deadPairsN =
        if (fc.sameAsRows == 0) 0L
        else {
          val candPairs = pins(Pipeline.sameAsRows(flatR).select("a", "b").distinct(), "a")
          val evBuckets = candPairs.buckets("a")
          val hasBatchRows = Materialize.nonEmpty(TableIO.read(spark, evDir, Some(evBuckets))
            .join(urls, Seq("url"), "left_semi"))
          if (hasBatchRows) {
            val cur = TableIO.read(spark, evDir, Some(evBuckets))
            TableIO.rewriteBuckets(
              keepOrder(cur.join(urls, Seq("url"), "left_anti"), cur.columns),
              evDir, col("a"), evBuckets, negCounters, numBuckets)
          }
          val survivors = TableIO.read(spark, evDir, Some(evBuckets))
            .select("a", "b").distinct()
          Materialize.count(candPairs.df.join(survivors, Seq("a", "b"), "left_anti"))
        }
      if (deadPairsN == 0) Split(0L, null, null, 0L)
      else {
        val pairs = TableIO.read(spark, evDir).select($"a", $"b").distinct()
        val n = ConnectedComponents.auto(spark, pairs).persist(StorageLevel.MEMORY_AND_DISK)
        // removal only shrinks the pair set, so every id in the new mapping
        // exists in the old one: changed = old rows whose root moved or left
        val ch = pins(TableIO.read(spark, compDir)
          .join(n.withColumnRenamed("component", "newComp"), Seq("id"), "left")
          .filter(!($"component" <=> $"newComp"))
          .select($"id", $"component".as("oldComp"), $"newComp"))
        Split(deadPairsN, ch.df, n, ch.count)
      }
    }

    // ---- chain C: dimension liveness probes (candidate buckets only; batch
    // rows excluded explicitly so a retry reads the same answer either side
    // of the edges rewrite) ----
    case class Dims(hostBuckets: Set[Int], deadHosts: DataFrame, nHosts: Long,
                    domBuckets: Set[Int], deadDoms: DataFrame, nDoms: Long)
    val edgesDir = s"$outDir/edges"
    val dimsF = Par {
      val hostCand = pRows.df.select($"hostId".as("h"))
      val hostBuckets = pRows.buckets("hostId")
      val liveHosts = TableIO.read(spark, edgesDir, Some(hostBuckets))
        .filter(col("kind") === EK.IsPageOf)
        .join(hostCand.withColumnRenamed("h", "src"), Seq("src"), "left_semi")
        .join(pageIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .select($"src".as("h")).distinct()
      val deadHosts = pins(hostCand.join(liveHosts, Seq("h"), "left_anti").distinct())
      if (deadHosts.count == 0)
        Dims(hostBuckets, deadHosts.df, 0L, Set.empty, Seq.empty[Long].toDF("d"), 0L)
      else {
        val domCand = pins(Pipeline.hostDomainOf(pRows.df)
          .join(deadHosts.df.withColumnRenamed("h", "hostId"), Seq("hostId"), "left_semi")
          .select($"domainId".as("d")).distinct(), "d")
        val domBuckets = domCand.buckets("d")
        val liveDoms = TableIO.read(spark, edgesDir, Some(domBuckets))
          .filter(col("kind") === EK.IsParentHost)
          .join(domCand.df.withColumnRenamed("d", "src"), Seq("src"), "left_semi")
          .join(deadHosts.df.withColumnRenamed("h", "dst"), Seq("dst"), "left_anti")
          .select($"src".as("d")).distinct()
        val deadDoms = pins(domCand.df.join(liveDoms, Seq("d"), "left_anti"))
        Dims(hostBuckets, deadHosts.df, deadHosts.count, domBuckets, deadDoms.df, deadDoms.count)
      }
    }

    // ---- triples: ONE rewrite drops the batch urls and re-derives the
    // split fallout (surviving pages whose rows reference a changed root) ----
    val triplesDir = s"$outDir/triples"
    val triplesF = Par {
      // the url probe needs nothing from B — it overlaps the mapping refresh
      val urlBuckets = pRows.buckets("url")
      val tripPresent = Materialize.nonEmpty(TableIO.read(spark, triplesDir, Some(urlBuckets))
        .join(urls, Seq("url"), "left_semi"))
      val split = Par.await(splitF)
      val (affectedUrls, nAffected, affBuckets) =
        if (split.remapped == 0) (urls.limit(0), 0L, Set.empty[Int])
        else {
          val changedVals = broadcast(split.changed.select($"oldComp".as("v")).distinct())
          val t = TableIO.read(spark, triplesDir)
          val aff = pins(t
            .join(changedVals, t("subj") === col("v") || t("obj") === col("v"), "left_semi")
            .select("url").distinct()
            .join(urls, Seq("url"), "left_anti"), "url")
          (aff.df, aff.count, aff.buckets("url"))
        }
      val buckets = (if (tripPresent) urlBuckets else Set.empty[Int]) ++ affBuckets
      if (buckets.nonEmpty) {
        val cur = TableIO.read(spark, triplesDir, Some(buckets))
        val keep = keepOrder(cur.join(urls.unionByName(affectedUrls), Seq("url"), "left_anti"),
          cur.columns)
        val rows =
          if (nAffected == 0) keep
          else {
            val affPages = remaining.join(affectedUrls, Seq("url"), "left_semi").as[Page]
            val flatA = TripleExtractor.flat(affPages, nPersons, rules).view
            keep.unionByName(Pipeline.canonicalizeTriples(flatA, split.newC))
          }
        // the batch's counters leave with its rows: a retry after this
        // commit finds no batch url and subtracts nothing again
        TableIO.rewriteBuckets(rows, triplesDir, col("url"), buckets,
          if (tripPresent) negCounters else Map.empty, numBuckets)
      }
      (buckets, nAffected)
    }

    // ---- edges: one combined rewrite over every touched bucket ----
    val edgesF = Par {
      val srcIds = pins(pageIds.unionByName(mentionIds).unionByName(tripleNodeIds).distinct(), "id")
      val srcBuckets = srcIds.buckets("id")
      // the batch-presence probe needs nothing from B — it overlaps the
      // mapping refresh
      val srcPresent = Materialize.nonEmpty(TableIO.read(spark, edgesDir, Some(srcBuckets))
        .join(srcIds.df.withColumnRenamed("id", "src"), Seq("src"), "left_semi"))
      val split = Par.await(splitF)
      val dims = Par.await(dimsF)
      val changedEntNodes =
        if (split.remapped == 0) None
        else Some(pins(split.changed.select($"id").as[Long].map(Ids.entityNodeId).toDF("en"), "en"))
      val edgeBuckets = srcBuckets ++ dims.hostBuckets ++ dims.domBuckets ++
        changedEntNodes.map(_.buckets("en")).getOrElse(Set.empty[Int])
      val eContent = TableIO.read(spark, edgesDir, Some(edgeBuckets))
      val batchPresent = srcPresent ||
        Materialize.nonEmpty(eContent.filter(col("kind") === EK.IsPageOf)
          .join(pageIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
      if (batchPresent || changedEntNodes.nonEmpty) {
        var keepE = eContent
          .join(srcIds.df.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(pageIds.select($"id".as("dst")).withColumn("kind", lit(EK.IsPageOf)),
            Seq("dst", "kind"), "left_anti")
          .join(dims.deadHosts.select($"h".as("dst")).withColumn("kind", lit(EK.IsParentHost)),
            Seq("dst", "kind"), "left_anti")
        changedEntNodes.foreach { cen =>
          keepE = keepE.join(
            cen.df.select($"en".as("src")).withColumn("kind", lit(EK.SameAs)),
            Seq("src", "kind"), "left_anti")
          val freshSameAs = split.changed.filter($"newComp".isNotNull)
            .select($"id", $"newComp").as[(Long, Long)]
            .map { case (id, c) =>
              GraphEdge(Ids.entityNodeId(id), Ids.entityNodeId(c), EK.SameAs, null) }
            .toDF().select(col("src"), col("dst"), col("kind"), col("variable"), col("label"))
          keepE = keepE.unionByName(freshSameAs)
        }
        // as for triples: a retry after this commit but before the
        // components overwrite re-applies the SAME_AS delta, never the counters
        TableIO.rewriteBuckets(keepOrder(keepE, eContent.columns), edgesDir, col("src"),
          edgeBuckets, if (batchPresent) negCounters else Map.empty, numBuckets)
      }
      edgeBuckets
    }

    // every chain settles before anything is rethrown, so a failed takedown
    // never leaves a sibling job still committing when its caller retries
    Par.awaitAll(deadEntsF, splitF, dimsF, triplesF, edgesF)
    val (deadEnts, nDeadEnts) = Par.await(deadEntsF)
    val split = Par.await(splitF)
    val dims = Par.await(dimsF)
    val (tripleBuckets, nAffected) = Par.await(triplesF)
    val edgeBuckets = Par.await(edgesF)

    // ---- components: whole-table overwrite after the triples and SAME_AS
    // deltas, BEFORE the nodes anchor drops ----
    if (split.remapped > 0)
      TableIO.rewriteBuckets(split.newC, compDir, col("id"), (0 until numBuckets).toSet,
        negCounters, numBuckets)

    // ---- nodes LAST: the presence anchor falls only when all else is done ----
    val delNodeIds = pins(pageIds.unionByName(mentionIds).unionByName(tripleNodeIds)
      .unionByName(dims.deadHosts.select($"h".as("id")))
      .unionByName(dims.deadDoms.select($"d".as("id")))
      .unionByName(deadEnts.select($"e".as("id")))
      .distinct(), "id")
    val nodeBuckets = delNodeIds.buckets("id")
    val curN = TableIO.read(spark, nodesDir, Some(nodeBuckets))
    TableIO.rewriteBuckets(
      keepOrder(curN.join(delNodeIds.df, Seq("id"), "left_anti"), curN.columns),
      nodesDir, col("id"), nodeBuckets, negCounters, numBuckets)

    pins.releaseAll()
    flatREnc.unpersist(false)
    if (split.newC != null) split.newC.unpersist(false)
    RemoveStats(nPresent, split.deadPairs, split.remapped, dims.nHosts, dims.nDoms,
      nDeadEnts, tripleBuckets.size, edgeBuckets.size, nodeBuckets.size, nAffected)
  }
}
