package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query.Steps
import graft.store.TableIO
import graft.util.{Materialize, Sessions}

/** The joern-tools CLI contract (SURVEY.md §2.7: thin verb per tool, ids in,
  * TSV on stdout) over materialized KG tables:
  *
  *   runMain graft.tools.KgCli <tablesDir> <verb> [args...]
  *
  *   lookup <kind> <codeRegex>        ≙ joern-lookup
  *   code <id> [id...]                ≙ joern-code
  *   edges <kind>                     ≙ joern-edge
  *   slice <forward|backward> <depth> <id> [id...]   ≙ joern-slice
  *   list-pages                       ≙ joern-list-files
  *   list-entities                    ≙ joern-list-funcs
  *   build <nPages>                   ≙ joern-parse + joern-import: run the
  *                                      pipeline on the synthetic corpus and
  *                                      materialize tables into <tablesDir>
  *   import-ref <nodes.csv> <edges.csv>  ≙ joern-import for a REAL reference
  *                                      CSV export (TSV interchange format)
  *   ingest <pages.parquet>           corpus-growth append (appendPages)
  *   remove <removed.parquet> <remaining.parquet>  takedown propagation
  *                                      (removePages: delete pages so every
  *                                      table equals a rebuild on the rest)
  *   snapshots                        readAt-servable snapshot ids per table
  *   compact                          collapse append-fragmented buckets
  *   expire <keepLast>                snapshot retention (reclaims files)
  *   coref <id> [id...]               interproc expansion: mentions -> all
  *                                      co-referent mentions via the entity
  *   tag <tag> <id> [id...]           ≙ joern-tag (tags table, merged)
  *   list-tags                        list the tags table
  *   knn <k> <pageId> [edgeKind]      ≙ scripts/ml/joern-knn
  *   cluster <n> [edgeKind]           ≙ scripts/ml/joern-cluster
  *   apiembed <k> <pageId>            ≙ joern-apiembedder + joern-knn
  *   stream-apiembed <pages> [dim]    ≙ joern-stream-apiembedder: page
  *                                      stream -> apiSym bags -> embeddings
  *   transform <sqlExpr> <id>...      ≙ joern-transform (projection expr)
  *   regex <id> [id...]               ≙ joern-regex (StringSetToRegex)
  *   astlabel <pageId>                ≙ joern-astlabel (kind-only plot labels)
  *   rank [k]                         top-k entities by integer PageRank
  *   hits [k]                         top-k by integer-HITS authority
  *   communities                      label-propagation community sizes
  *   sameas [k]                       structural sameAs candidate pairs
  *   scc                              non-trivial SCC sizes (bow-tie core)
  *   bowtie                           CORE/IN/OUT/OTHER region census
  *   path <a> <b> [maxDepth]          shortest entity path, one row per hop
  *   triangles                        per-entity triangle/wedge census
  *   kcore [k]                        k-core survivors with in-core degree
  *   export-ref <outDir>              write reference-format nodes/edges TSV
  *
  * Output: header + rows, tab-separated, maps JSON-ish, deterministic order.
  */
object KgCli {

  /** Verb dispatch — returns the result frame (main prints it as TSV). */
  def run(spark: SparkSession, tablesDir: String, verb: String, args: Seq[String]): DataFrame = {
    lazy val nodes = TableIO.read(spark, s"$tablesDir/nodes")
    // merge-on-read aware: a pending deferred canon remap (appendPages
    // deferMergeRewrite) is applied to SAME_AS rows, so every query verb
    // serves CURRENT canonical ids, not pre-merge bytes
    lazy val edges = graft.Incremental.readEdges(spark, tablesDir)
    verb match {
      case "build" =>
        val cfg = graft.model.PageGen.Config(nPages = args(0).toInt)
        val t = graft.Pipeline.run(spark, graft.model.PageGen.pages(spark, cfg), cfg.nPersons)
        val counters = graft.Pipeline.materialize(spark, t, tablesDir)
        import spark.implicits._
        counters.toSeq.sortBy(_._1).toDF("counter", "value")
      case "ingest" =>
        // corpus-growth append (the production increment): a pages parquet
        // (url, warc_ts, html, text, lang) joins the materialized build via
        // Incremental.appendPages — O(batch) + merge-fallout delta
        import spark.implicits._
        val pages = spark.read.parquet(args(0))
          .select(col("url"), col("warc_ts").cast("timestamp").as("warc_ts"),
            col("html"), col("text"), col("lang"))
          .as[graft.model.Page]
        val st = graft.Incremental.appendPages(spark, pages, tablesDir)
        Seq(
          ("pages", st.pages),
          ("newMappingRows", st.newMappingRows),
          ("remappedIds", st.remappedIds),
          ("tripleBucketsRewritten", st.tripleBucketsRewritten.toLong),
          ("edgeBucketsRewritten", st.edgeBucketsRewritten.toLong),
          ("skippedTables", st.skippedTables.size.toLong)).toDF("counter", "value")
      case "remove" =>
        // takedown propagation (the retraction increment): drop a pages
        // parquet from the build so every table equals a rebuild on the
        // remaining corpus — Incremental.removePages. args =
        // <removedPagesParquet> <remainingPagesParquet> (the second feeds
        // the split-fallout re-derivation when the batch carried the last
        // same-as evidence of an entity merge)
        import spark.implicits._
        def pagesAt(p: String) = spark.read.parquet(p)
          .select(col("url"), col("warc_ts").cast("timestamp").as("warc_ts"),
            col("html"), col("text"), col("lang"))
          .as[graft.model.Page]
        val st = graft.Incremental.removePages(
          spark, pagesAt(args(0)), pagesAt(args(1)), tablesDir)
        Seq(
          ("pages", st.pages),
          ("deadPairs", st.deadPairs),
          ("remappedIds", st.remappedIds),
          ("deadHosts", st.deadHosts),
          ("deadDomains", st.deadDomains),
          ("deadEntities", st.deadEntities),
          ("tripleBucketsRewritten", st.tripleBucketsRewritten.toLong),
          ("edgeBucketsRewritten", st.edgeBucketsRewritten.toLong),
          ("nodeBucketsRewritten", st.nodeBucketsRewritten.toLong),
          ("affectedUrls", st.affectedUrls)).toDF("counter", "value")
      case "snapshots" =>
        // snapshot history across the build's tables (readAt-servable ids)
        import spark.implicits._
        (for {
          tbl <- Seq("triples", "nodes", "edges", "components", "sameas_evidence",
            "entity_refcounts")
          sid <- TableIO.snapshots(s"$tablesDir/$tbl")
        } yield (tbl, sid)).toDF("table", "snapshotId")
      case "compact" =>
        import spark.implicits._
        // maintenance pass: fold any pending merge remap into the rows
        // FIRST (restores zero-overhead physical reads), then coalesce
        // append-fragmented files
        val (rt, re) = graft.Incremental.compactMergeRemap(spark, tablesDir)
        // the refcount delta log folds to one row per entity (its own
        // aggregate-preserving compaction) before the file-level pass
        val refRows = graft.Incremental.foldRefcounts(spark, tablesDir)
        (Seq("triples" -> col("url"), "nodes" -> col("id"),
          "edges" -> col("src"), "components" -> col("id"),
          "sameas_evidence" -> col("a"))
          .map { case (tbl, key) =>
            (tbl, TableIO.compact(spark, s"$tablesDir/$tbl", key).size.toLong) }
          :+ ("remapFoldedBuckets", (rt.size + re.size).toLong)
          :+ ("refcountRowsAfterFold", refRows))
          .toDF("table", "bucketsCompacted")
      case "expire" =>
        import spark.implicits._
        val keep = args(0).toInt
        Seq("triples", "nodes", "edges", "components", "sameas_evidence",
          "entity_refcounts").map { tbl =>
          TableIO.expireSnapshots(s"$tablesDir/$tbl", keep)
          (tbl, TableIO.snapshots(s"$tablesDir/$tbl").size.toLong)
        }.toDF("table", "snapshotsLeft")
      case "import-ref" =>
        // ≙ joern-import: load a reference nodes.csv/edges.csv export into
        // graft tables (FK-validated; dangling edges counted, not dropped).
        // OVERWRITE semantics: every bucket is replaced and the counters
        // stated, whatever the tables held before
        val nodes = graft.sources.RefCsvGraphSource.readNodes(spark, args(0))
        val edges = graft.sources.RefCsvGraphSource.readEdges(spark, args(1))
        val (valid, dangling) = graft.sources.RefCsvGraphSource.validated(nodes, edges)
        def overwrite(df: DataFrame, tbl: String, key: String) =
          TableIO.commitBuckets(df, s"$tablesDir/$tbl", col(key), (0 until TableIO.NumBuckets).toSet,
            appendRest = false, _ => Map("danglingEdges" -> dangling))
        val nm = overwrite(nodes, "nodes", "id")
        val em = overwrite(valid, "edges", "src")
        import spark.implicits._
        Seq(("nodes", nm.buckets.values.sum), ("edges", em.buckets.values.sum),
          ("danglingEdges", dangling)).toDF("counter", "value")
      // the export half of import-ref: write the materialized graph in the
      // reference's nodes.csv/edges.csv TSV interchange shape
      case "export-ref" =>
        require(args.nonEmpty, "usage: export-ref <outDir>")
        val out = args(0)
        graft.sources.RefCsvGraphSource.writeNodes(nodes, s"$out/nodes.csv")
        graft.sources.RefCsvGraphSource.writeEdges(edges, s"$out/edges.csv")
        import spark.implicits._
        Seq(("nodes", nodes.count()), ("edges", edges.count()))
          .toDF("counter", "value")
      case "lookup" =>
        // ≙ joern-lookup after joern-hide: nodes carrying the 'hidden' tag
        // are excluded from lookups until unhidden
        val found = Steps.nodesWithKindAndCodeRegex(nodes, args(0), args(1))
        val visible = readTags(spark, tablesDir) match {
          case Some(tags) => found.join(
            tags.filter(col("tag") === "hidden").select("id"), Seq("id"), "left_anti")
          case None => found
        }
        visible.drop("props").orderBy("id")
      case "code" =>
        nodes.filter(col("id").isin(args.map(_.toLong): _*))
          .select("id", "code").orderBy("id")
      // ≙ joern-location (python/joern-tools): node ids -> source spans
      // ("pageUrl:sent:tokStart:tokEnd" for mentions, "pageUrl:childNum"
      // for nodes without a span prop)
      case "location" =>
        Steps.withLocationLabel(nodes)
          .filter(col("id").isin(args.map(_.toLong): _*))
          .select("id", "kind", "code", "location").orderBy("id")
      case "edges" =>
        edges.filter(col("kind") === args(0)).orderBy("src", "dst")
      case "slice" =>
        require(args(0) == "forward" || args(0) == "backward",
          s"slice direction must be forward|backward, got '${args(0)}'")
        val ids = args.drop(2).map(_.toLong)
        val seeds = nodes.filter(col("id").isin(ids: _*))
        val sliced =
          if (args(0) == "backward")
            Steps.backwardSlice(seeds, edges, nodes, symbols = Nil,
              depth = args(1).toInt, kinds = Seq("LINKS_TO", "SAME_AS", "NEXT_MENTION"))
          else
            Steps.forwardSlice(seeds, edges, nodes, symbols = Nil,
              depth = args(1).toInt, kinds = Seq("LINKS_TO", "SAME_AS", "NEXT_MENTION"))
        sliced.drop("props").orderBy("id")
      case "list-pages" =>
        nodes.filter(col("kind") === "Page").select("id", "code").orderBy("code")
      case "list-entities" =>
        nodes.filter(col("kind") === "Entity").select("id", "code").orderBy("id")
      case "coref" =>
        val seeds = nodes.filter(col("id").isin(args.map(_.toLong): _*))
        Steps.corefMentions(seeds, edges, nodes).drop("props").orderBy("id")
      // ≙ joern-tag / joern-hide / joern-unhide: tags live in their own
      // bucketed table, overwritten whole (no node mutation).
      // hide/unhide are sugar over the reserved 'hidden' tag.
      case "tag" =>
        val (tag, ids) = (args.head, args.tail.map(_.toLong))
        rewriteTags(spark, tablesDir, existing =>
          existing.unionByName(tagRows(spark, ids, tag)).distinct())
      case "untag" =>
        val (tag, ids) = (args.head, args.tail.map(_.toLong))
        rewriteTags(spark, tablesDir, existing =>
          existing.join(tagRows(spark, ids, tag), Seq("id", "tag"), "left_anti"))
      case "hide" =>
        rewriteTags(spark, tablesDir, existing =>
          existing.unionByName(tagRows(spark, args.map(_.toLong), "hidden")).distinct())
      case "unhide" =>
        rewriteTags(spark, tablesDir, existing =>
          existing.join(tagRows(spark, args.map(_.toLong), "hidden"),
            Seq("id", "tag"), "left_anti"))
      case "list-tags" =>
        readTags(spark, tablesDir)
          .getOrElse(throw new IllegalStateException(s"no tags table at $tablesDir/tags"))
          .orderBy("id", "tag")
      // ≙ joern-ast2features (python/joern-tools scripts/ml/): per-page
      // neighborhood-hash bag-of-labels as sparse "label:count" lines
      case "features" =>
        val kind = if (args.nonEmpty) args(0) else "MENTIONS"
        Steps.neighborhoodHashFeatures(nodes, edges, kind)
          .groupBy("pageId")
          .agg(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("label"), col("count")))),
            s => concat(s.getField("label"), lit(":"), s.getField("count"))))
            .as("features"))
          .orderBy("pageId")
      // ≙ scripts/ml/joern-knn: k nearest pages to a query page by cosine
      // over feature-hashed neighborhood-hash bags (sally-style embedding)
      case "knn" =>
        val (k, pid) = (args(0).toInt, args(1).toLong)
        val kind = if (args.length > 2) args(2) else "MENTIONS"
        // drop the pageId-0 bag (global nodes — Entity/Host/Domain — live
        // outside any page); knn/cluster are page-level tools
        val emb = graft.ops.Similarity.featureHashEmbedding(
          Steps.neighborhoodHashFeatures(nodes, edges, kind)
            .filter(col("pageId") =!= 0))
        graft.ops.Similarity.bruteForceTopK(emb.filter(col("id") === pid), emb, k)
          .orderBy("rank")
      // ≙ scripts/ml/joern-cluster: k-means page clusters over the same
      // embedding; output (pageId, cluster)
      case "cluster" =>
        val n = args(0).toInt
        val kind = if (args.length > 1) args(1) else "MENTIONS"
        val emb = graft.ops.Similarity.featureHashEmbedding(
          Steps.neighborhoodHashFeatures(nodes, edges, kind)
            .filter(col("pageId") =!= 0))
        val centroids = graft.ops.Similarity.kmeansCentroids(emb, n)
        graft.ops.Similarity.assign(emb, centroids)
          .select(col("id").as("pageId"), col("centroid_id").as("cluster"))
          .orderBy("pageId")
      // entity salience: integer-PageRank top-k over the canonical triple
      // graph (beyond-reference analytics — query/GraphAnalytics), joined
      // to the Entity node codes for a readable report
      case "rank" =>
        val k = if (args.nonEmpty) args(0).toInt else 20
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        val pr = graft.query.GraphAnalytics.pageRankInt(
          graft.query.GraphAnalytics.entityEdges(triples))
        pr.join(entityCodes(nodes), Seq("id"), "left")
          .orderBy(col("rank").desc, col("id")).limit(k)
      // hub/authority top-k: integer-HITS over the canonical triple graph,
      // entity codes joined in like `rank`
      case "hits" =>
        val k = if (args.nonEmpty) args(0).toInt else 20
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        val h = graft.query.GraphAnalytics.hitsInt(
          graft.query.GraphAnalytics.entityEdges(triples))
        h.join(entityCodes(nodes), Seq("id"), "left")
          .orderBy(col("auth").desc, col("id")).limit(k)
      // label-propagation communities over the same graph: (community,
      // n_entities) size report, largest first
      case "communities" =>
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.labelPropagation(
          graft.query.GraphAnalytics.entityEdges(triples))
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_entities"))
          .orderBy(col("n_entities").desc, col("community"))
      // structural sameAs candidates: entity pairs with overlapping
      // neighborhoods (witness count + full degrees), strongest first
      case "sameas" =>
        val k = if (args.nonEmpty) args(0).toInt else 20
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.sameAsCandidates(
          graft.query.GraphAnalytics.entityEdges(triples))
          .orderBy(col("inter").desc, col("u"), col("v")).limit(k)
      // strongly connected components: (scc, n_entities) size report for
      // non-trivial components, largest first — the bow-tie core surface
      case "scc" =>
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.scc(
          graft.query.GraphAnalytics.entityEdges(triples))
          .groupBy(col("scc")).agg(count(lit(1)).as("n_entities"))
          .filter(col("n_entities") > 1)
          .orderBy(col("n_entities").desc, col("scc"))
      // shortest entity path: "how are X and Y related" — one row per hop,
      // entity codes joined in; empty frame = not reachable
      case "path" =>
        require(args.length >= 2, "usage: path <fromEntityId> <toEntityId> [maxDepth]")
        val (a, b) = (args(0).toLong, args(1).toLong)
        val maxD = if (args.length > 2) args(2).toInt else 30
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        val hops = graft.query.GraphAnalytics.shortestPath(
          graft.query.GraphAnalytics.entityEdges(triples), a, b, maxD)
          .getOrElse(Seq.empty)
        import spark.implicits._
        hops.zipWithIndex.map { case (id, i) => (i.toLong, id) }
          .toDF("step", "id")
          .join(entityCodes(nodes), Seq("id"), "left")
          .select("step", "id", "code").orderBy("step")
      // bow-tie macro-structure report: (region, n_entities)
      case "bowtie" =>
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.bowTie(
          graft.query.GraphAnalytics.entityEdges(triples))
          .groupBy(col("region")).agg(count(lit(1)).as("n_entities"))
          .orderBy(col("region"))
      // k-core survivors (default k=2) with in-core degree
      case "kcore" =>
        val k = if (args.nonEmpty) args(0).toInt else 2
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.kCore(
          graft.query.GraphAnalytics.entityEdges(triples), k)
          .orderBy(col("deg").desc, col("id"))
      // local clustering census over the same graph: per-entity
      // (deg, wedges, triangles)
      case "triangles" =>
        val triples = graft.Incremental.readTriples(spark, tablesDir)
        graft.query.GraphAnalytics.triangleCounts(
          graft.query.GraphAnalytics.entityEdges(triples))
          .orderBy(col("triangles").desc, col("id"))
      // ≙ joern-transform (python/joern-tools/scripts/lowLevel/
      // joern-transform:17-24): evaluate an arbitrary per-node projection
      // expression over an id list — the reference pipes ids through a
      // user-supplied expression; here it is ANSI SQL over the node row
      case "transform" =>
        require(args.length >= 2, "usage: transform <sqlExpr> <id> [id...]")
        nodes.filter(col("id").isin(args.tail.map(_.toLong): _*))
          .select(col("id"), expr(args.head).as("value"))
          .orderBy("id")
      // ≙ joern-regex (scripts/ml/joern-regex, StringSetToRegex): one
      // discriminating anchored regex from the given nodes' code strings —
      // feed it back into `lookup <kind> <regex>`
      case "regex" =>
        val codes = nodes.filter(col("id").isin(args.map(_.toLong): _*))
          .select("code").distinct().collect().map(_.getString(0)).toSeq.sorted
        import spark.implicits._
        Seq(graft.util.StringSetRegex.compile(codes)).toDF("regex")
      // ≙ joern-plot-proggraph: one page's subgraph as graphviz DOT (the
      // reference's plot tools are client-side too — the server only
      // answers the subgraph query)
      case "plot" =>
        val (ns, es) = pageSubgraph(nodes, edges, args(0).toLong,
          if (args.length > 1) args.drop(1)
          else Seq("MENTIONS", "NEXT_MENTION", "SAME_SENTENCE", "LINKS_TO", "SUBJ", "OBJ"))
        dotFrame(spark, ns, es)
      // ≙ joern-astlabel (scripts/ml/joern-astlabel:1-25): the same plot
      // with every node relabeled to its AST type (kind) only — the
      // reference rewrites an existing DOT's labels, the subgraph query is
      // plot's
      case "astlabel" =>
        val (ns, es) = pageSubgraph(nodes, edges, args(0).toLong,
          Seq("MENTIONS", "NEXT_MENTION", "SAME_SENTENCE", "LINKS_TO", "SUBJ", "OBJ"))
        dotFrame(spark, ns, es, kindOnly = true)
      // ≙ scripts/ml/joern-apiembedder + joern-knn composed as one verb:
      // per-page API-symbol bags (Mention/Triple codes — Steps.apiSyms'
      // kinds) → feature-hashed embedding → cosine top-k pages
      case "apiembed" =>
        require(args.length >= 2, "usage: apiembed <k> <pageId>")
        val (k, pid) = (args(0).toInt, args(1).toLong)
        import graft.model.Schema.{NodeKinds => NK}
        val bags = nodes
          .filter(col("kind").isin(NK.Mention, NK.TripleN) && col("pageId") =!= 0)
          .groupBy(col("pageId"), xxhash64(col("code")).as("label"))
          .agg(count(lit(1)).as("count"))
        val emb = graft.ops.Similarity.featureHashEmbedding(bags)
        graft.ops.Similarity.bruteForceTopK(emb.filter(col("id") === pid), emb, k)
          .orderBy("rank")
      // ≙ joern-stream-apiembedder (scripts/ml/joern-stream-apiembedder:
      // 1-19): the STREAMING variant of apiembed. The reference streams
      // chunked [functionId, apiSymbolCodes] queries out instead of holding
      // the corpus in one response; here the page corpus arrives as a
      // file-source stream (one parquet file per micro-batch), each batch
      // is extracted and feature-hash-embedded independently — a page's
      // symbol bag is page-local, so per-batch embedding == whole-corpus
      // embedding per page and NO state crosses batches (bounded-state by
      // construction). Needs no materialized tables: it is the
      // crawl-to-embedding front half of the ingest path.
      case "stream-apiembed" =>
        require(args.nonEmpty, "usage: stream-apiembed <pagesParquet> [dim]")
        streamApiEmbed(spark, args(0),
          if (args.length > 1) args(1).toInt else 64)
      case "plot-slice" =>
        val seeds = nodes.filter(col("id") === args(1).toLong)
        val kinds = Seq("LINKS_TO", "SAME_AS", "NEXT_MENTION", "SAME_SENTENCE")
        val sliced = Steps.forwardSlice(seeds, edges, nodes,
          symbols = Nil, depth = args(0).toInt, kinds = kinds)
        dotFrame(spark, sliced, Steps.inducedEdges(sliced,
          edges.filter(col("kind").isin(kinds: _*))))
      case other =>
        throw new IllegalArgumentException(
          s"unknown verb '$other' (build|import-ref|export-ref|ingest|snapshots|compact|expire|" +
            "lookup|code|location|edges|slice|coref|" +
            "tag|untag|hide|unhide|features|knn|cluster|apiembed|stream-apiembed|rank|hits|communities|sameas|scc|bowtie|path|triangles|kcore|" +
            "transform|regex|plot|plot-slice|astlabel|list-tags|list-pages|list-entities)")
    }
  }

  /** One page's plot subgraph: the page's own nodes plus the entity
    * endpoints of its LINKS_TO edges — Entity nodes carry pageId 0, so a
    * page-only node set would make every LINKS_TO edge dangle out of the
    * induced subgraph. Shared by plot / astlabel. */
  /** stream-apiembed body: file-source page stream → per-batch extract →
    * API-symbol bags (Mention surface + deduped Triple pred — exactly the
    * codes the materialized nodes table carries for those kinds, so the
    * streamed embeddings equal the batch `apiembed` path's) →
    * [[graft.ops.Similarity.featureHashEmbedding]] → parquet append sink.
    * maxFilesPerTrigger=1 makes each input file its own micro-batch. */
  private def streamApiEmbed(spark: SparkSession, pagesDir: String, dim: Int): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDir).schema
    val outDir = java.nio.file.Files.createTempDirectory("graft-stream-emb").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-emb").toString
    val pages = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(pagesDir)
      .select(col("url"), col("warc_ts").cast("timestamp").as("warc_ts"),
        col("html"), col("text"), col("lang"))
      .filter(col("lang") === "en")
      .as[graft.model.Page]
    // the build's extraction over the stream, read through the unsorted view
    val q = graft.extract.TripleExtractor.flat(pages, 500).view.toDF()
      .writeStream
      .foreachBatch { (flat: DataFrame, _: Long) =>
        val bags = flat.filter(col("rowKind") === "m")
          .select(col("pageId"), col("surface").as("code"))
          .unionByName(flat
            .filter(col("rowKind") === "t" && col("tripleNodeId") =!= 0L)
            .dropDuplicates("tripleNodeId")
            .select(col("pageId"), col("pred").as("code")))
          .groupBy(col("pageId"), xxhash64(col("code")).as("label"))
          .agg(count(lit(1)).as("count"))
        graft.ops.Similarity.featureHashEmbedding(bags, dim = dim)
          .write.mode("append").parquet(outDir)
        ()
      }
      .option("checkpointLocation", ckpt).start()
    try { q.processAllAvailable() } finally {
      q.stop()
      graft.store.TableIO.deleteRecursively(ckpt)
    }
    val res = Materialize.pin(spark.read.parquet(outDir).orderBy("id")).df
    graft.store.TableIO.deleteRecursively(outDir)
    res
  }

  private def pageSubgraph(nodes: DataFrame, edges: DataFrame, pid: Long,
                           kinds: Seq[String]): (DataFrame, DataFrame) = {
    val pageNodes = Steps.nodesOfPage(nodes, pid)
    val ns = pageNodes
      .unionByName(Steps.out(pageNodes, edges, nodes, "LINKS_TO"))
      .dropDuplicates("id")
    (ns, Steps.inducedEdges(ns, edges.filter(col("kind").isin(kinds: _*))))
  }

  /** Render a (nodes, edges) pair as one graphviz DOT document in a 1-row
    * frame (collected — plots are small, client-side artifacts by contract).
    * `kindOnly` = the astlabel relabeling pass (AST type instead of code). */
  private def dotFrame(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
                       kindOnly: Boolean = false): DataFrame = {
    import spark.implicits._
    // truncate BEFORE escaping — truncating after can split an escape pair
    // and leave a dangling backslash that escapes the closing quote
    def esc(s: String): String =
      if (s == null) "" else s.take(60).replace("\\", "\\\\").replace("\"", "\\\"")
    // node ids are signed 64-bit hashes (~half negative): a bare n-123…
    // is not a legal unquoted DOT ID, so quote every id
    val ns = nodes.select("id", "kind", "code").orderBy("id").limit(5000).collect()
      .map { r =>
        val label = if (kindOnly) esc(r.getString(1))
          else s"${esc(r.getString(1))}: ${esc(r.getString(2))}"
        s"""  "n${r.getLong(0)}" [label="$label"];"""
      }
    val es = edges.select("src", "dst", "kind").orderBy("src", "dst", "kind").limit(20000)
      .collect()
      .map(r => s"""  "n${r.getLong(0)}" -> "n${r.getLong(1)}" [label="${esc(r.getString(2))}"];""")
    Seq((ns ++ es).mkString("digraph g {\n", "\n", "\n}")).toDF("dot")
  }

  /** Entity id -> display code dim frame (entity node codes ARE the
    * canonical ids rendered as strings) — shared by rank/hits/path. */
  private def entityCodes(nodes: DataFrame): DataFrame =
    nodes.filter(col("kind") === "Entity")
      .select(col("code").cast("long").as("id"), col("code"))

  private def tagRows(spark: SparkSession, ids: Seq[Long], tag: String) = {
    import spark.implicits._
    ids.map((_, tag)).toDF("id", "tag")
  }

  private def readTags(spark: SparkSession, tablesDir: String): Option[DataFrame] =
    Option.when(TableIO.readManifest(s"$tablesDir/tags").isDefined)(
      TableIO.read(spark, s"$tablesDir/tags"))

  /** Overwrite the tags table with `f` of its rows. The result is pinned:
    * it reads the files the overwrite replaces. */
  private def rewriteTags(spark: SparkSession, tablesDir: String,
                       f: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val existing = readTags(spark, tablesDir)
      .getOrElse(Seq.empty[(Long, String)].toDF("id", "tag"))
    val next = Materialize.pin(f(existing)).df
    TableIO.rewriteBuckets(next, s"$tablesDir/tags", col("id"), (0 until TableIO.NumBuckets).toSet)
    next.orderBy("id", "tag")
  }

  /** TSV rendering: tabs/newlines in values escaped exactly like the
    * reference writer (`ASTNodeFactory.java:45-51`). */
  def toTsv(df: DataFrame, limit: Int = 10000): String = {
    val cols = df.columns
    val rows = df.limit(limit).collect().map(_.toSeq.map {
      case null => ""
      case m: Map[_, _] => m.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(",")
      case v => v.toString.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    }.mkString("\t"))
    (cols.mkString("\t") +: rows).mkString("\n")
  }

  def main(argv: Array[String]): Unit = {
    if (argv.length < 2) {
      System.err.println("usage: KgCli <tablesDir> <verb> [args...]")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Sessions.local("graft-kgcli", cpus)
    try println(toTsv(run(spark, argv(0), argv(1), argv.drop(2).toSeq)))
    finally spark.stop()
  }
}
