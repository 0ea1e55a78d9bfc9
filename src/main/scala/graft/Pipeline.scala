package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.canon.ConnectedComponents
import graft.extract._
import graft.model._
import graft.store.TableIO
import graft.util.Par

/** End-to-end KG construction: pages → extract → link → canonicalize →
  * materialize (nodes / edges / triples) — the Spark re-expression of
  * joern-parse → joern-import (SURVEY.md §3.1-3.2).
  *
  * Stage/shuffle budget (what survives 100 TB):
  *   1. scan + lang filter            — narrow, filter on a scan column
  *   2. extract + page-local linking  — ONE mapPartitions, broadcast rules,
  *                                      zero shuffle (joern's local-until-emit);
  *                                      output is a FLAT columnar frame cached
  *                                      once — all later stages are column ops
  *   3. same-as edge set              — columnar filter (no re-extraction)
  *   4. connected components          — adaptive: driver union-find for small
  *                                      entity graphs, salted distributed
  *                                      label propagation at scale
  *   5. canonical mapping applied     — BROADCAST join while the mapping
  *                                      (≪ triples) is under Spark's
  *                                      threshold; a shuffle join (AQE
  *                                      skew handling) once it outgrows it
  *   6. materialize                   — bucket-repartitioned writes (one task
  *                                      per bucket), manifest commit,
  *                                      per-bucket lineage counters
  */
object Pipeline {
  final case class Tables(
      flat: Dataset[FlatRow],         // decode VIEW over flatEnc (same schema as before)
      flatEnc: DataFrame,             // the PERSISTED dictionary-encoded flat frame
      components: DataFrame,          // (id, component)
      triples: DataFrame,             // (subj, pred, obj, objValue, url, conf)
      nodes: DataFrame,               // GraphNode rows
      edges: DataFrame,               // GraphEdge rows
      metrics: ExtractMetrics)

  def run(spark: SparkSession, pages: Dataset[Page], nPersons: Int = 500,
          targetLang: String = "en",
          rules: Seq[PatternRule] = PatternAutomaton.DefaultRules,
          // rule-diff incremental recompute (G3): when a restricted page set
          // is re-extracted, the GLOBAL canonical mapping must come from the
          // original full build (same_as rules unchanged ⇒ it is still
          // valid) — recomputing it from the restricted pages would be wrong
          precomputedComponents: Option[DataFrame] = None): Tables = {
    import spark.implicits._

    // 1-2: language predicate BEFORE the expensive mapPartitions (the
    // necessary-condition prefilter shape, joern `queryTemplate.groovy:36-50`).
    // The CACHED frame is the dictionary-ENCODED shape (FlatRowEnc: rowKind/
    // pred/norm/label as small ints — the flat cache is re-scanned by every
    // downstream stage and the 2→8 probes pinned its plateau on DRAM
    // bandwidth), kind-sorted (TripleExtractor.cached); `flat` is a decode
    // VIEW restoring the exact historical schema, so all consumers are
    // unchanged and decode cost is CPU at the consuming projection, not
    // resident bytes.
    val ex = TripleExtractor.flat(pages.filter($"lang" === targetLang), nPersons, rules)
    val flatEnc = TripleExtractor.cached(ex.enc)
    val flat = ex.decode(flatEnc)

    // 3: same-as edges (entity-id pairs) — the canonicalization input.
    // distinct() first: shrinks the edge multiset to the entity-pair set
    // distributed-side (partial-agg), so the adaptive-CC probe collects
    // thousands of pairs, not millions of occurrences.
    val sameAs = sameAsRows(flat).select("a", "b").distinct()

    // 4: global fixpoint (adaptive: driver union-find under the cutover,
    // salted distributed label propagation above it — identical results).
    // Inside getOrElse so a precomputed mapping (rule-diff incremental)
    // never forces extraction just to build an unused edge set.
    val components = precomputedComponents.getOrElse(
      ConnectedComponents.auto(spark, sameAs).persist(StorageLevel.MEMORY_AND_DISK))

    val triples = canonicalizeTriples(flat, components)

    // 6: property-graph tables (SURVEY.md §1.4) — all pure column ops over
    // the flat cache (≙ nodes.csv / edges.csv emission)
    val (nodes, edges) = graphTables(spark, flat, components)

    Tables(flat, flatEnc.toDF(), components, triples, nodes, edges, ex.metrics)
  }

  /** Canonicalize the extracted triples with a (id, component) mapping —
    * stage 5. The mapping is bounded by the entity universe (≪ triple
    * count), so Spark's size-based join selection broadcasts it while it is
    * under `spark.sql.autoBroadcastJoinThreshold`; past that the join
    * shuffles on the entity key, and AQE re-plans from runtime sizes and
    * handles residual skew. No probe job decides the strategy. */
  def canonicalizeTriples(flat: Dataset[FlatRow], components: DataFrame): DataFrame = {
    import flat.sparkSession.implicits._
    val rawTriples = flat.filter($"rowKind" === "t" && $"pred" =!= "same_as")
      .select($"subj", $"pred", $"obj", $"objValue", $"url", $"conf")
    rawTriples
      .join(components.withColumnRenamed("id", "subj").withColumnRenamed("component", "subjCanon"),
        Seq("subj"), "left")
      .join(components.withColumnRenamed("id", "obj").withColumnRenamed("component", "objCanon"),
        Seq("obj"), "left")
      .select(
        coalesce($"subjCanon", $"subj").as("subj"),
        $"pred",
        coalesce($"objCanon", $"obj").as("obj"),
        $"objValue", $"url", $"conf")
      .dropDuplicates("subj", "pred", "obj", "objValue", "url")
  }

  /** Host dimension with its registrable domain: (hostId, host, domain,
    * domainId), distinct per host. Registrable domain = last two host
    * labels; dotless hosts (intranet names) are their own domain — slice(-2)
    * on a 1-element array yields an empty string, which would collapse every
    * such host under one bogus Domain node. Pure column exprs; shared by
    * graphTables and the takedown path (Incremental.removePages must derive
    * the SAME domain ids when deciding dimension-row liveness). */
  private[graft] def hostDomainOf(p: DataFrame): DataFrame =
    p.select("hostId", "host").distinct()
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("domain", when(size(col("labels")) < 2, col("host"))
        .otherwise(array_join(slice(col("labels"), -2, 2), ".")))
      .drop("labels")
      .withColumn("domainId", xxhash64(lit("Domain"), col("domain")))

  /** Build the nodes/edges tables from the flat frame — column exprs only. */
  def graphTables(spark: SparkSession, flat: Dataset[FlatRow],
                  components: DataFrame): (DataFrame, DataFrame) = {
    import spark.implicits._
    import Schema.{EdgeKinds => EK, NodeKinds => NK}

    val p = flat.filter($"rowKind" === "p")
    val m = flat.filter($"rowKind" === "m")

    def asNodes(id: org.apache.spark.sql.Column, kind: String,
                code: org.apache.spark.sql.Column, pageId: org.apache.spark.sql.Column,
                childNum: org.apache.spark.sql.Column,
                props: org.apache.spark.sql.Column)(df: DataFrame): DataFrame =
      df.select(id.as("id"), lit(kind).as("kind"), code.as("code"),
        pageId.as("pageId"), childNum.as("childNum"), props.as("props"))

    val pageNodes = asNodes($"pageId", NK.Page, $"url", $"pageId", lit(0),
      map(lit("host"), $"host", lit("nSentences"), $"nSentences".cast("string")))(p.toDF())

    // domain level of the hierarchy (≙ Directory above File, C8
    // `DirectoryTreeImporter.java:9-45`): hostNodes reuses the helper's
    // distinct (one host dedup, not two)
    val hostDomain = hostDomainOf(p.toDF())
    val hostNodes = asNodes($"hostId", NK.Host, $"host", lit(0L), lit(0),
      map(lit("host"), $"host"))(hostDomain.select("hostId", "host"))
    val domainNodes = asNodes($"domainId", NK.Domain, $"domain", lit(0L), lit(0),
      map(lit("domain"), $"domain"))(hostDomain.select("domainId", "domain").distinct())

    // loc = "sentIdx:tokStart:tokEnd" — the reference stores a location
    // string on every CFG node (`ast/CodeLocation.java:14-19`); joern-location
    // style lookups resolve it via Steps.withLocationLabel / the CLI verb
    val mentionNodes = asNodes($"mentionId", NK.Mention, $"surface", $"pageId", $"mentionIdx",
      map(lit("norm"), $"norm", lit("entityId"), $"entityId".cast("string"),
        lit("loc"), concat_ws(":", $"sentIdx", $"tokStart", $"tokEnd")))(m.toDF())

    val entityNodes = asNodes($"entityNodeId", NK.Entity, $"entityId".cast("string"),
      lit(0L), lit(0), map(lit("entityId"), $"entityId".cast("string")))(
      m.filter($"entityId" >= 0).select("entityNodeId", "entityId").distinct())

    def asEdges(src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column,
                kind: String, variable: org.apache.spark.sql.Column,
                label: org.apache.spark.sql.Column = lit(null).cast("string"))
               (df: DataFrame): DataFrame =
      df.select(src.as("src"), dst.as("dst"), lit(kind).as("kind"),
        variable.as("variable"), label.as("label"))

    val isPageOf = asEdges($"hostId", $"pageId", EK.IsPageOf, lit(null).cast("string"))(p.toDF())
    val isParentHost = asEdges($"domainId", $"hostId", EK.IsParentHost,
      lit(null).cast("string"))(hostDomain)
    val mentionsE = asEdges($"pageId", $"mentionId", EK.Mentions, lit(null).cast("string"))(m.toDF())
    val linksTo = asEdges($"mentionId", $"entityNodeId", EK.LinksTo, $"norm")(
      m.filter($"entityId" >= 0).toDF())

    val sameAsE = components.as[(Long, Long)]
      .map { case (id, comp) =>
        GraphEdge(Ids.entityNodeId(id), Ids.entityNodeId(comp), EK.SameAs, null)
      }.toDF()
      .select(col("src"), col("dst"), col("kind"), col("variable"), col("label"))

    // discourse-order chain: mention i -> mention i+1 within a page (the
    // FLOWS_TO analog, `cfg/CFG.java:119-139`). The successor id is emitted
    // by the extractor itself (page-local knowledge) so this is a pure
    // column filter over the cache — no window, no shuffle
    // the extractor labels the edge 'except' over a mention-less sentence
    // gap (≙ CFGEdge.java:12-18 exception flow); null = unconditional
    val nextMention = m.filter($"nextMentionId" =!= 0L)
      .select($"mentionId".as("src"), $"nextMentionId".as("dst"),
        lit(EK.NextMention).as("kind"), lit(null).cast("string").as("variable"),
        $"label")

    // SAME_SENTENCE pairs — extractor-emitted "e" rows, pure column select
    // (the branching C3/CDG analog; slices and taint walks get a DAG, not
    // just the linear chain)
    // label True (adjacent pair — the taken branch) / False (skip pair)
    val sameSentence = flat.filter($"rowKind" === "e")
      .select($"subj".as("src"), $"obj".as("dst"),
        lit(EK.SameSentence).as("kind"), lit(null).cast("string").as("variable"), $"label")

    // triple-provenance subgraph (≙ CSVDDGExporter.java:18-45 carrying `var`
    // on every REACHES edge): one Triple node per extraction occurrence,
    // SUBJ/OBJ edges back to the mentions that filled its slots. ONE dedup
    // on the occurrence id replaces the previous three per-projection
    // distinct()s: tripleNodeId is a hash of exactly (subjMentionId, pred,
    // objMentionId|objValue), and the mention ids encode the page/sentence
    // position, so every projected column is determined by the id —
    // re-derivations of the same occurrence (two rules, same slots) are
    // identical rows. The two edge projections share the SAME dedup
    // exchange inside the edges job (ReuseExchange), so the write path pays
    // one 7-column shuffle instead of three.
    val tprov = flat.filter($"rowKind" === "t" && $"tripleNodeId" =!= 0L)
      .select("tripleNodeId", "pred", "pageId", "sentIdx", "objValue",
        "subjMentionId", "objMentionId")
      .dropDuplicates("tripleNodeId")
    // empty prop values are dropped, not stored: an entity-object triple has
    // no objValue, and the TSV interchange contract (RefCsvGraphSource)
    // treats empty as absent — storing "" would break the export round-trip
    val tripleNodes = asNodes($"tripleNodeId", NK.TripleN, $"pred", $"pageId", $"sentIdx",
      map_filter(map(lit("objValue"), coalesce($"objValue", lit(""))),
        (_, v) => v =!= ""))(tprov.toDF())
    val subjE = asEdges($"tripleNodeId", $"subjMentionId", EK.Subject, $"pred")(tprov.toDF())
    val objE = asEdges($"tripleNodeId", $"objMentionId", EK.Object, $"pred")(
      tprov.filter($"objMentionId" =!= 0L))

    val nodes = pageNodes.unionByName(hostNodes).unionByName(domainNodes)
      .unionByName(mentionNodes).unionByName(entityNodes).unionByName(tripleNodes)
    val edges = isPageOf.unionByName(isParentHost).unionByName(mentionsE)
      .unionByName(linksTo).unionByName(sameAsE).unionByName(nextMention)
      .unionByName(sameSentence).unionByName(subjE).unionByName(objE)
    (nodes, edges)
  }

  /** Materialize all three tables with manifest commit + counters.
    * The three writes run as CONCURRENT Spark jobs (separate dirs, separate
    * manifests): the scheduler interleaves their tasks, so no core idles at a
    * single job's tail/barrier — on a cluster this is three output stages
    * sharing the same executor pool. */
  def materialize(spark: SparkSession, t: Tables, outDir: String,
                  numBuckets: Int = graft.store.TableIO.NumBuckets): Map[String, Long] = {
    // numBuckets is a BUILD parameter that must grow with the corpus (the
    // local default 32 ≙ thousands at cluster scale): increments touch
    // O(batch) buckets each sized O(corpus/numBuckets), so fixed buckets
    // would silently turn bucket reads corpus-linear — TakedownScaleProbe
    // demonstrates the flat-wall behavior when buckets scale with corpus
    // manifest counters come from the MATERIALIZED rows, not accumulators:
    // Spark only guarantees exactly-once accumulator updates inside actions,
    // so task retries / cache-eviction recomputes would over-count the
    // transformation-side metrics (those remain useful live telemetry).
    // Computed CONCURRENTLY with the table writes (it is a fifth job over
    // the same flat cache) — each write only blocks on it at manifest-commit
    // time, after its data files are out, so the counter scan's wall time
    // fully overlaps the writes instead of serially preceding them
    val countersF = Par(flatCounters(t.flat).counters)
    def counters: Map[String, Long] = Par.await(countersF)
    val writes = Seq(
      Par(TableIO.writeBucketed(t.triples, s"$outDir/triples", col("url"), counters, numBuckets)),
      Par(TableIO.writeBucketed(t.nodes, s"$outDir/nodes", col("id"), counters, numBuckets)),
      Par(TableIO.writeBucketed(t.edges, s"$outDir/edges", col("src"), counters, numBuckets)),
      // the canonical mapping is materialized too: a rule-diff incremental
      // recompute (Incremental.applyRuleDiff) re-extracts only the touched
      // page buckets and must reuse THIS global mapping, not rebuild one
      // from the restricted page set
      Par(TableIO.writeBucketed(t.components, s"$outDir/components", col("id"), counters, numBuckets)),
      // same-as EVIDENCE (a, b, url): the raw pair occurrences the canonical
      // mapping was computed FROM, with their page provenance. The mapping
      // alone cannot answer "does this merge survive if page X is taken
      // down?" — a root says nothing about which pages evidenced it — so
      // takedown propagation (Incremental.removePages) needs the evidence
      // table to recompute CC over the SURVIVING pairs in O(evidence), not
      // O(corpus re-extraction). Evidence-sized (same_as rows only, ≪
      // triples), bucketed by the pair's first id so a removal batch probes
      // only the buckets its candidate pairs hash into.
      Par(TableIO.writeBucketed(sameAsEvidence(t.flat),
        s"$outDir/sameas_evidence", col("a"), counters, numBuckets)),
      // entity refcount delta log (see entityRefDeltas): the build writes
      // the initial counts as one snapshot; increments append signed deltas
      Par(TableIO.writeBucketed(entityRefDeltas(t.flat),
        s"$outDir/entity_refcounts", col("id"), counters, numBuckets)))
    Par.awaitAll(countersF +: writes: _*)
    counters
  }

  /** Same-as pair occurrences (a, b, url) of a flat frame — the ONE filter
    * behind the CC input, the evidence sidecar and the increments' pair
    * sets, so none of them can drift from what a rebuild derives. Over the
    * decode view, DictDecodeFilterRewrite folds the kind and pred tests onto
    * the int codes of the encoded cache. */
  private[graft] def sameAsRows(flat: Dataset[FlatRow]): DataFrame =
    flat.filter(col("rowKind") === "t" && col("pred") === "same_as" && col("obj") >= 0)
      .select(col("subj").as("a"), col("obj").as("b"), col("url"))

  /** Same-as evidence rows (a, b, url), one per distinct occurrence —
    * written by materialize, appendPages and the same_as rule-diff refresh. */
  private[graft] def sameAsEvidence(flat: Dataset[FlatRow]): DataFrame =
    sameAsRows(flat).dropDuplicates("a", "b", "url")

  /** Per-entity mention counts from a flat frame: (id = raw entityId, n).
    * The entity_refcounts DELTA LOG's row source — the full build writes one
    * snapshot of these, each append adds them as positive deltas, each
    * takedown as negative ones; sum(n) per id is the live mention count.
    * Entity-dimension liveness ("did this batch remove the LAST page
    * mentioning e?") then reads only the candidates' buckets instead of
    * scanning LINKS_TO corpus-wide — the step that made increments linear
    * in corpus size at 10^12 docs. */
  private[graft] def entityRefDeltas(flat: Dataset[FlatRow]): DataFrame =
    flat.filter(col("rowKind") === "m" && col("entityId") >= 0)
      .groupBy(col("entityId").as("id")).agg(count(lit(1)).as("n"))

  /** What one aggregation over a flat frame counts: the five lineage
    * `counters` every manifest carries; the batch tag, the xor of the page
    * rows' `xxhash64(url)` (the same page set, redelivered or re-deduped,
    * always gets the same tag); and the number of same-as rows
    * ([[sameAsRows]]). */
  final case class FlatCounts(counters: Map[String, Long], batchTag: String, sameAsRows: Long)

  /** Lineage counters, batch tag and same-as row count of a flat extraction
    * frame (one aggregation job). */
  def flatCounters(flat: Dataset[FlatRow]): FlatCounts = {
    import org.apache.spark.sql.functions.{count => cnt, sum => sm}
    val c = flat.groupBy("rowKind").agg(
      cnt(lit(1)).as("n"),
      sm(when(col("error").isNotNull, 1L).otherwise(0L)).as("nErr"),
      sm(coalesce(col("nSentences"), lit(0))).as("nSent"),
      expr("bit_xor(xxhash64(url))").as("tag"),
      sm(when(col("pred") === "same_as" && col("obj") >= 0, 1L).otherwise(0L)).as("nSameAs"))
      .collect().map(r => r.getString(0) -> r).toMap
    def of(k: String, i: Int): Long =
      c.get(k).filterNot(_.isNullAt(i)).map(_.getLong(i)).getOrElse(0L)
    FlatCounts(
      Map(
        "pagesIn" -> of("p", 1),
        "pagesErrored" -> of("p", 2),
        "sentences" -> of("p", 3),
        "mentions" -> of("m", 1),
        "triples" -> of("t", 1)),
      java.lang.Long.toHexString(of("p", 4)),
      of("t", 5))
  }
}
