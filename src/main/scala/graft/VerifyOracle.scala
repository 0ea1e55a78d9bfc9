package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.canon.ConnectedComponents.LocalUnionFind
import graft.extract._
import graft.model._

/** Single-threaded oracle dumps for the driver's DuckDB correctness gate.
  *
  * The reference's whole test philosophy is DB-output-vs-in-memory-recompute
  * (`tests/ddg/testDDGCreator.java:29-49` asserts exactly the expected
  * REACHES edges; gremtest asserts exact result sets,
  * `gremtest/test_stdlib/tests/function.groovy:17-26`). This module is that
  * in-memory recompute for the KG pipeline: a plain sequential loop over the
  * deterministic page corpus, a `LocalUnionFind` for canonicalization, and
  * the same PURE per-page / per-row functions the executors run — so the
  * dump is differential against everything the DISTRIBUTED path adds
  * (partitioning, shuffles, joins, salting, caching, dedup) while staying
  * byte-comparable. Downstream tables (nodes / edges / step queries) are
  * NOT dumped: the DuckDB oracle SQL re-derives them relationally from these
  * leaf dumps ([[KgOracleSql]]), which makes the derivation itself
  * independently checked, in SQL, by a different engine.
  *
  * Everything here is driver-side, runs once per `graft.Verify` invocation,
  * and is sized for the verify scale (thousands of pages), not production.
  */
object VerifyOracle {

  /** Spark-compatible xxhash64 over a chain of strings (seed 42, each
    * child's digest seeding the next — exactly the XxHash64 expression's
    * fold), via Spark's own XXH64 so there is no reimplementation to drift. */
  def sparkXxhash64(parts: Seq[String]): Long = {
    var h = 42L
    parts.foreach { s =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
    h
  }

  /** Initial neighborhood-hash label — twin of Steps.neighborhoodHashFeatures'
    * `abs(xxhash64(...)) % 65536` column (A_NUMBER collapse included). */
  def initialLabel(kind: String, code: String): Long = {
    val h =
      if (code != null && code.nonEmpty && code.forall(c => c >= '0' && c <= '9'))
        sparkXxhash64(Seq("A_NUMBER"))
      else sparkXxhash64(Seq(kind, code))
    math.abs(h) % 65536
  }

  /** Twin of TextAnalysis.fingerprint's min element (min of 8-gram xxhash64,
    * with the <8-token truncated-shingle edge case of sequence/greatest). */
  def fingerprintMin(text: String, shingleLen: Int = 8): Long = {
    val toks = text.split("\\s+", -1)
    val last = math.max(toks.length - shingleLen, 0)
    var min = Long.MaxValue
    var i = 0
    while (i <= last) {
      val sh = toks.slice(i, math.min(i + shingleLen, toks.length)).mkString(" ")
      val h = sparkXxhash64(Seq(sh))
      if (h < min) min = h
      i += 1
    }
    min
  }

  // -------- leaf-dump row shapes (written as parquet under <out>/_oracle) --------
  final case class OraPage(pageId: Long, url: String, host: String, hostId: Long,
                           nSentences: Int, error: String)
  final case class OraMention(pageId: Long, url: String, mentionId: Long, mentionIdx: Int,
                              sentIdx: Int, surface: String, norm: String, entityId: Long,
                              entityNodeId: Long, nextMentionId: Long,
                              tokStart: Int, tokEnd: Int)
  final case class OraRawTriple(pageId: Long, url: String, subj: Long, pred: String, obj: Long,
                                objValue: String, sentIdx: Int, conf: Double, tripleNodeId: Long,
                                subjMentionId: Long, objMentionId: Long)
  final case class OraComp(id: Long, component: Long, idNode: Long, compNode: Long)
  final case class OraUrl(url: String)
  final case class OraCore(id: Long, deg: Long)
  final case class OraScc(id: Long, scc: Long)
  final case class OraBowtie(id: Long, region: String)

  /** Sequential iterative Tarjan (explicit work stack, no recursion) over a
    * directed edge list: scc label = min member id for every node incident
    * to an edge. ONE implementation shared by the oracle dump and the
    * GraphAnalyticsSpec driver twin — the frame-resumption/low-link code is
    * the trickiest sequential logic in the oracle and must not fork. */
  private[graft] def tarjanScc(dir: Iterable[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    dir.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil); nodes += a; nodes += b
    }
    val adjArr = adj.map { case (k, v) => k -> v.toArray }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onstk = scala.collection.mutable.Set.empty[Long]
    val stk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sccOf = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes; if !index.contains(root)) {
      // explicit work stack: (node, next child offset)
      val work = scala.collection.mutable.Stack[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, pi) = work.top
        if (pi == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stk += v; onstk += v
        }
        val ns = adjArr.getOrElse(v, Array.empty[Long])
        var i = pi
        var recursed = false
        while (i < ns.length && !recursed) {
          val w = ns(i)
          if (!index.contains(w)) {
            work.pop(); work.push((v, i + 1)); work.push((w, 0))
            recursed = true
          } else {
            if (onstk.contains(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!recursed) {
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var w = 0L
            do {
              w = stk.remove(stk.length - 1); onstk -= w; members += w
            } while (w != v)
            val m = members.min
            members.foreach(x => sccOf(x) = m)
          }
          work.pop()
          if (work.nonEmpty) {
            val u = work.top._1
            low(u) = math.min(low(u), low(v))
          }
        }
      }
    }
    sccOf.toMap
  }
  final case class OraHost(hostId: Long, host: String, domainId: Long, domain: String)
  final case class OraLabel(kind: String, code: String, label: Long)
  final case class OraMedia(media_id: Long, kind: String, width: Int, height: Int,
                            durationMs: Int, ok: Boolean, f0: Option[Float])
  final case class OraDocSig(doc_id: Long, sig: Array[Long], simhash: Long, fp0: Long)

  /** Registrable domain, twin of Pipeline.graphTables' column derivation. */
  def domainOf(host: String): String = {
    val labels = host.split("\\.", -1)
    if (labels.length < 2) host else labels.takeRight(2).mkString(".")
  }

  /** Compute all leaf dumps sequentially and write them under
    * `<outDir>/_oracle/<name>/`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import spark.implicits._
    val oraDir = s"$outDir/_oracle"

    // ---- KG pipeline leaves: sequential loop over the same corpus ----
    val cfg = PageGen.Config(nPages = Queries.kgPages(sfDir))
    val gaz = Gazetteer.default(cfg.nPersons)
    val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)
    val uf = new LocalUnionFind
    // takedown-oracle twins: kg_remove_triples removes the corpus tail
    // (page index ≥ appendSplit) from a full build, so the oracle needs the
    // REMAINING corpus's canonical mapping (union-find over only the head
    // pages' same-as evidence) and the removed urls to filter rawtriples by
    val rmSplit = Queries.appendSplit(sfDir)
    val ufRm = new LocalUnionFind
    val removedUrls = Vector.newBuilder[OraUrl]

    val pages = Vector.newBuilder[OraPage]
    val mentions = Vector.newBuilder[OraMention]
    val triples = Vector.newBuilder[OraRawTriple]
    var i = 0L
    while (i < cfg.nPages) {
      val p = PageGen.page(cfg, i)
      if (p.lang == "en") {
        val ex = TripleExtractor.extractPage(p, gaz, auto)
        pages += OraPage(ex.pageId, ex.url, ex.host, Ids.hash64(ex.host), ex.nSentences, ex.error)
        val marr = ex.mentions.toIndexedSeq
        marr.zipWithIndex.foreach { case (m, idx) =>
          mentions += OraMention(m.pageId, m.url, m.mentionId, idx, m.sentIdx, m.surface,
            m.norm, m.entityId,
            if (m.entityId >= 0) Ids.entityNodeId(m.entityId) else 0L,
            if (idx + 1 < marr.length) marr(idx + 1).mentionId else 0L,
            m.tokStart, m.tokEnd)
        }
        if (i >= rmSplit) removedUrls += OraUrl(ex.url)
        ex.triples.foreach { t =>
          if (t.pred == "same_as") {
            if (t.obj >= 0) {
              uf.union(t.subj, t.obj)
              if (i < rmSplit) ufRm.union(t.subj, t.obj)
            }
          }
          else triples += OraRawTriple(ex.pageId, ex.url, t.subj, t.pred, t.obj, t.objValue,
            t.sentIdx, t.conf, Ids.tripleNodeId(t.subjMentionId, t.pred, t.objMentionId, t.objValue),
            t.subjMentionId, t.objMentionId)
        }
      }
      i += 1
    }
    val comps = uf.components.toSeq.sortBy(_._1).map { case (id, c) =>
      OraComp(id, c, Ids.entityNodeId(id), Ids.entityNodeId(c))
    }
    val pagesV = pages.result(); val mentionsV = mentions.result(); val triplesV = triples.result()
    // 2-core of the canonical entity graph by SEQUENTIAL queue peeling — a
    // genuinely different algorithm than the distributed synchronous rounds
    // (GraphAnalytics.kCore); the k-core is unique so they must agree. The
    // dump-backed oracle style is the components precedent: the derivation
    // IS the in-memory recompute, the SQL just selects it.
    val kcore = {
      val comp = uf.components
      def canon(x: Long): Long = comp.getOrElse(x, x)
      val und = triplesV.iterator
        .filter(t => t.obj >= 0)
        .map(t => (canon(t.subj), canon(t.obj)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toSet
      val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
      und.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
      }
      val deg = scala.collection.mutable.Map(adj.toSeq.map { case (n, s) => n -> s.size }: _*)
      val removed = scala.collection.mutable.Set.empty[Long]
      val queue = scala.collection.mutable.Queue(adj.keys.filter(deg(_) < 2).toSeq: _*)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        if (!removed.contains(v)) {
          removed += v
          adj(v).foreach { u =>
            if (!removed.contains(u)) {
              deg(u) -= 1
              if (deg(u) < 2) queue.enqueue(u)
            }
          }
        }
      }
      adj.keys.filterNot(removed).toSeq.sorted.map(n => OraCore(n, deg(n).toLong))
    }
    // SCC of the canonical DIRECTED entity graph by sequential iterative
    // Tarjan — a genuinely different algorithm than the distributed
    // trim + forward-backward rounds (GraphAnalytics.scc); the SCC
    // partition is unique and both sides label by min member id, so they
    // must agree rowwise.
    val (sccDump, bowtieDump) = {
      val comp = uf.components
      def canon(x: Long): Long = comp.getOrElse(x, x)
      val dir = triplesV.iterator
        .filter(t => t.obj >= 0)
        .map(t => (canon(t.subj), canon(t.obj)))
        .filter { case (a, b) => a != b }
        .toSet
      val sccOf = tarjanScc(dir)
      val nodes = sccOf.keys.toSeq.sorted
      val sccs = nodes.map(n => OraScc(n, sccOf(n)))
      if (nodes.isEmpty) (sccs, Seq.empty[OraBowtie]) // edge-free corpus: no crash
      else {
        // bow-tie regions by sequential BFS — the GraphAnalytics.bowTie
        // twin: CORE = largest SCC (smaller-label tiebreak), IN reaches it,
        // OUT is reached from it, OTHER = tendrils/tubes/disconnected
        val sizes = scala.collection.mutable.Map.empty[Long, Int]
        sccOf.values.foreach(c => sizes(c) = sizes.getOrElse(c, 0) + 1)
        val coreId = sizes.toSeq.minBy { case (k, n) => (-n, k) }._1
        val coreSet = sccOf.iterator.filter(_._2 == coreId).map(_._1).toSet
        val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        val radj = scala.collection.mutable.Map.empty[Long, List[Long]]
        dir.foreach { case (a, b) =>
          adj(a) = b :: adj.getOrElse(a, Nil)
          radj(b) = a :: radj.getOrElse(b, Nil)
        }
        def bfs(a: scala.collection.Map[Long, List[Long]]): Set[Long] = {
          val vis = scala.collection.mutable.Set(coreSet.toSeq: _*)
          val q = scala.collection.mutable.Queue(coreSet.toSeq: _*)
          while (q.nonEmpty) {
            val v = q.dequeue()
            a.getOrElse(v, Nil).foreach { w =>
              if (!vis.contains(w)) { vis += w; q += w }
            }
          }
          vis.toSet
        }
        val fromCore = bfs(adj)
        val toCore = bfs(radj)
        val bowtie = nodes.map { n =>
          val r = if (coreSet(n)) "CORE"
            else if (toCore(n)) "IN"
            else if (fromCore(n)) "OUT"
            else "OTHER"
          OraBowtie(n, r)
        }
        (sccs, bowtie)
      }
    }
    // the edge oracle derives SAME_SENTENCE as ALL same-sentence pairs; the
    // extractor caps at MaxSameSentenceMentions mentions/sentence — assert
    // the cap is unreachable on THIS corpus so a denser config fails loudly
    // here instead of as a baffling driver hash mismatch
    mentionsV.groupBy(m => (m.pageId, m.sentIdx)).foreach { case (k, ms) =>
      require(ms.size <= TripleExtractor.MaxSameSentenceMentions,
        s"sentence $k has ${ms.size} mentions > cap ${TripleExtractor.MaxSameSentenceMentions}" +
          " — the SQL edge oracle would diverge from the capped extractor")
    }
    val hosts = pagesV.map(p => (p.hostId, p.host)).distinct.sorted.map { case (hid, h) =>
      val d = domainOf(h)
      OraHost(hid, h, sparkXxhash64(Seq("Domain", d)), d)
    }
    // label map: every (kind, code) pair the derived node table can contain
    val labelPairs: Seq[(String, String)] =
      (pagesV.map(p => (Schema.NodeKinds.Page, p.url)) ++
        hosts.map(h => (Schema.NodeKinds.Host, h.host)) ++
        hosts.map(h => (Schema.NodeKinds.Domain, h.domain)) ++
        mentionsV.map(m => (Schema.NodeKinds.Mention, m.surface)) ++
        mentionsV.filter(_.entityId >= 0).map(m => (Schema.NodeKinds.Entity, m.entityId.toString)) ++
        triplesV.map(t => (Schema.NodeKinds.TripleN, t.pred))).distinct
    val labels = labelPairs.map { case (k, c) => OraLabel(k, c, initialLabel(k, c)) }

    // ---- media leaves: the same pure row function + decode dispatch
    // (REAL javax.imageio for images, stub for A/V), run sequentially ----
    // (f0 is NULL on decode failure, matching the query's when(ok, ...) —
    // element_at over the empty failure array would error under ANSI)
    val media = (0L until Queries.MmN.toLong).map { mi =>
      val m = graft.ops.Multimodal.mediaRow(mi)
      val (ok, f0) =
        try (true, Some(graft.ops.Multimodal.decodeFeature(m.kind, m.bytes)(0)))
        catch { case _: Exception => (false, None) }
      OraMedia(m.media_id, m.kind, m.width, m.height, m.durationMs, ok, f0)
    }

    // integer-exact image stats re-derived by the SAME single-threaded
    // decode the mm4 entry distributes (channel sums + luminance bins)
    val mediaImg = (0L until Queries.MmN.toLong).flatMap { mi =>
      val m = graft.ops.Multimodal.mediaRow(mi)
      if (m.kind != "image") None
      else Some(
        try {
          val s = graft.ops.Multimodal.ImageCodec.decode(m.bytes)
          graft.ops.Multimodal.ImageStatRow(mi, ok = true, s.width, s.height,
            s.sumR, s.sumG, s.sumB,
            s.hist(0), s.hist(1), s.hist(2), s.hist(3),
            s.hist(4), s.hist(5), s.hist(6), s.hist(7))
        } catch {
          case _: Exception =>
            graft.ops.Multimodal.ImageStatRow(mi, ok = false, 0, 0, 0L, 0L, 0L,
              0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        })
    }

    // integer-exact audio stats re-derived by the SAME single-threaded
    // decode the mm5 entry distributes (amplitude sums + sign crossings);
    // the corpus's truncated WAVs land as ok=false rows on both sides
    val mediaAud = (0L until Queries.MmN.toLong).flatMap { mi =>
      val m = graft.ops.Multimodal.mediaRow(mi)
      if (m.kind != "audio") None
      else Some(
        try {
          val s = graft.ops.Multimodal.AudioCodec.decode(m.bytes)
          graft.ops.Multimodal.AudioStatRow(mi, ok = true, s.sampleRate,
            s.nSamples, s.ampMin, s.ampMax, s.sumAbs, s.sumSq, s.zeroCross)
        } catch {
          case _: Exception =>
            graft.ops.Multimodal.AudioStatRow(mi, ok = false, 0, 0, 0, 0, 0L, 0L, 0)
        })
    }

    // ---- document-signature leaves: same pure per-doc functions ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val sigs = docs.map { case (id, text) =>
      OraDocSig(id,
        graft.ops.Dedup.minhashSignatureLocal(text, 3, 32, 42L),
        graft.ops.Dedup.simhashLocal(text),
        fingerprintMin(text))
    }

    def write[T <: Product : org.apache.spark.sql.Encoder](name: String, rows: Seq[T]): Unit =
      spark.createDataset(rows).coalesce(1)
        .write.mode("overwrite").parquet(s"$oraDir/$name")
    write("pages", pagesV)
    write("mentions", mentionsV)
    write("rawtriples", triplesV)
    write("components", comps)
    write("components_rm", ufRm.components.toSeq.sortBy(_._1).map { case (id, c) =>
      OraComp(id, c, Ids.entityNodeId(id), Ids.entityNodeId(c))
    })
    write("removed_urls", removedUrls.result())
    write("kcore", kcore)
    write("scc", sccDump)
    write("bowtie", bowtieDump)
    write("hosts", hosts)
    write("labelmap", labels)
    write("media", media)
    write("mediaimg", mediaImg)
    write("mediaaud", mediaAud)
    write("docsigs", sigs.toSeq)
  }
}
