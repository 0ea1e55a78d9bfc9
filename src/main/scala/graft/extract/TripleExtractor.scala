package graft.extract

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import graft.model._

/** Per-page extraction result: everything locally derivable from one page.
  * ≙ one function's worth of AST/CFG/UDG rows in the reference
  * (`FunctionExporter.addToDatabaseSafe`,
  * jpanlib `outputModules/common/FunctionExporter.java:32-61`). */
case class PageExtract(
    pageId: Long,
    url: String,
    host: String,
    nSentences: Int,
    mentions: Seq[LinkedMention],
    triples: Seq[PageTriple],
    error: String) // null when clean; a bad page never kills the job

/** A page-local triple over *linked* entity ids (pre-canonicalization).
  * Carries the MENTION ids that filled its slots — the provenance handles
  * the graph exporters turn into Triple nodes + SUBJ/OBJ edges
  * (≙ the `var` provenance on every REACHES edge, `CSVDDGExporter.java:18-45`). */
case class PageTriple(
    subj: Long,
    pred: String,
    obj: Long,     // -1 for literal objects
    objValue: String, // literal text when obj == -1, else null
    sentIdx: Int,
    conf: Double,
    subjMentionId: Long = 0L,
    objMentionId: Long = 0L)  // 0 when the object is a literal

/** One flat emitted row — page / mention / triple, discriminated by `rowKind`
  * ("p" | "m" | "t"). The distributed pipeline caches THIS flat columnar
  * shape, not the nested [[PageExtract]]: downstream derivations are then
  * pure column ops over a columnar cache instead of re-deserializing nested
  * Seq[case class] objects on every pass (allocation/GC-bound and
  * core-count-insensitive — measured 2× pipeline cost before the change).
  * ≙ joern emitting every local graph as rows immediately
  * (`CSVWriterImpl.java:36-78`). */
case class FlatRow(
    rowKind: String,
    pageId: Long,
    url: String,
    host: String,
    hostId: Long,
    nSentences: Int,
    // mention fields (rowKind = "m")
    mentionId: Long,
    mentionIdx: Int,
    surface: String,
    norm: String,
    entityId: Long,
    entityNodeId: Long,
    nextMentionId: Long, // successor in page order, 0 if last (≙ FLOWS_TO target)
    // triple fields (rowKind = "t"); edge rows (rowKind = "e") reuse
    // subj/obj as src/dst mention ids (pred is null there — every "e" row
    // is a SAME_SENTENCE pair by construction, stamped downstream)
    subj: Long,
    pred: String,
    obj: Long,
    objValue: String,
    sentIdx: Int,       // also set on "m" rows (mention's sentence)
    tokStart: Int,      // mention token span ("m" rows; -1 elsewhere)
    tokEnd: Int,
    conf: Double,
    tripleNodeId: Long,    // provenance node id ("t" rows, non-same_as)
    subjMentionId: Long,
    objMentionId: Long,
    error: String,
    // flow label (≙ CFGEdge.java:12-18): "m" rows label their NEXT_MENTION
    // out-edge ('except' over a mention-less sentence gap), "e" rows their
    // SAME_SENTENCE edge ('True' adjacent / 'False' skip); null elsewhere.
    // Emitted here because adjacency/gap is page-local knowledge — deriving
    // it downstream would cost a pageId window shuffle
    label: String = null)

/** [[FlatRow]] with the bounded-vocabulary string columns dictionary-encoded
  * to small ints AND the kind-disjoint fields OVERLAID — the shape the
  * pipeline actually CACHES. The flat frame is the one big DRAM-resident
  * frame every downstream stage re-scans, and the 2→8 scaling probes pinned
  * its plateau on memory bandwidth, so repeated string bytes (rowKind on
  * EVERY row, pred per triple, norm per mention, label per discourse edge)
  * AND per-kind constant defaults stored at full width (an uncompressed
  * columnar cache stores a "t" row's never-read mention longs as 8 real
  * bytes each) are pure scan tax.
  *
  * Codes: rowKind/label ↦ [[FlatDict]] fixed tables, pred ↦ the compiled
  * automaton's sorted predicate vocabulary, norm ↦ the gazetteer's sorted
  * alias vocabulary; -1 = null.
  *
  * Overlays (a mention never carries triple slots and vice versa, and the
  * page-dimension fields — host/hostId/nSentences — are consumed from "p"
  * rows alone, so the kind-disjoint fields share one physical column; "e"
  * rows ride the t-side ids):
  *   idA  = m: mentionId        | t: tripleNodeId       | p: hostId | else 0
  *   strA = m: surface          | t: objValue           | p: host   | else null
  *   mentionIdx = m: mentionIdx | p: nSentences         | else -1
  *   idB  = m: entityId         | e,t: subj             | else -1
  *   idC  = m: entityNodeId     | e,t: obj              | else -1
  *   idD  = m: nextMentionId    | t: subjMentionId      | else 0
  *   idE  = m: tokStart‖tokEnd (two ints in one long) | t: objMentionId | else 0
  * `conf` stores NO bytes at all: extraction confidence is rule-level and
  * every shipped rule emits 1.0 (`extractPage`), so the value is
  * rowKind-determined (t → 1.0, else 0.0) and re-derived at decode. A
  * per-rule confidence would dictionary-encode via `pred` exactly like the
  * vocab columns; a per-OCCURRENCE conf would need its column back. The
  * encoder counts any deviation ([[ExtractMetrics.overlayLost]], asserted 0
  * by EncodedFlatSpec) so the invariant is observable, not assumed.
  * This drops 26 → 15 physical columns (~65 constant bytes per non-mention
  * row). Consumers never see this type — [[TripleExtractor.decodeFlat]]
  * restores the exact [[FlatRow]] schema: vocab columns via codegen'd
  * broadcast-dictionary lookups ([[graft.functions.DictDecode]]), overlay
  * columns via kind-conditional projections — evaluated at the consumption
  * site, so the cache stores the packed ints and the decode costs CPU
  * cycles, not resident bytes. */
case class FlatRowEnc(
    rowKind: Byte,
    pageId: Long,
    url: String,
    idA: Long,
    mentionIdx: Int,
    strA: String,
    norm: Int,
    idB: Long,
    idC: Long,
    idD: Long,
    pred: Int,
    sentIdx: Int,
    idE: Long,
    error: String,
    label: Byte)

/** Fixed dictionaries for the two closed vocabularies (row kind and flow
  * label), plus the code constants the pipeline filters on. */
object FlatDict {
  val RowKinds: Array[String] = Array("p", "m", "e", "t")
  val Labels: Array[String] = Array("True", "False", "except")

  val KindP: Byte = 0
  val KindM: Byte = 1
  val KindE: Byte = 2
  val KindT: Byte = 3

  def kindCode(s: String): Byte = s match {
    case "p" => KindP
    case "m" => KindM
    case "e" => KindE
    case "t" => KindT
  }

  def labelCode(s: String): Byte = s match {
    case null => -1
    case "True" => 0
    case "False" => 1
    case "except" => 2
  }
}

/** Counters surfaced to the manifest/metrics (≙ the reference silently
  * dropping dangling edges at `CSVImporter.java:209-222` — we count instead). */
final class ExtractMetrics(spark: SparkSession) extends Serializable {
  val pagesIn: LongAccumulator = spark.sparkContext.longAccumulator("pagesIn")
  val pagesErrored: LongAccumulator = spark.sparkContext.longAccumulator("pagesErrored")
  val sentences: LongAccumulator = spark.sparkContext.longAccumulator("sentences")
  val mentions: LongAccumulator = spark.sparkContext.longAccumulator("mentions")
  val triples: LongAccumulator = spark.sparkContext.longAccumulator("triples")
  /** Mentions dropped by the per-sentence SAME_SENTENCE cap — the cap is a
    * deliberate semantic bound, but on a denser corpus than the verify
    * fixtures it would silently truncate discourse edges; this makes
    * production truncation observable (the DuckDB oracles do not model the
    * cap — VerifyOracle.dump asserts it never fires at verify scale). */
  val sameSentenceDropped: LongAccumulator =
    spark.sparkContext.longAccumulator("sameSentenceDropped")
  /** Encoder dictionary misses (a norm/pred string absent from its
    * vocabulary — impossible by construction, see Gazetteer.aliasArr; the
    * miss encodes as null rather than killing the job, and THIS counter
    * makes the impossible observable. Asserted 0 in EncodedFlatSpec and by
    * VerifyOracle.dump). */
  val dictMisses: LongAccumulator =
    spark.sparkContext.longAccumulator("dictMisses")
  /** Rows whose kind-determined overlay defaults (conf; host/hostId/
    * nSentences on non-"p" rows) deviated from the value the decode view
    * will re-derive — impossible for rows [[TripleExtractor.toFlatRows]]
    * emits, and THIS counter is what makes the impossible observable
    * (asserted 0 in EncodedFlatSpec; a nonzero value means the encode is
    * lossy for this input and the overlay must grow a column back). */
  val overlayLost: LongAccumulator =
    spark.sparkContext.longAccumulator("overlayLost")
}

/** One distributed extraction ([[TripleExtractor.flat]]). `decode` is the
  * [[FlatRow]] view over `enc` or any row-for-row copy of it (cached, joined). */
final case class Extraction(enc: Dataset[FlatRowEnc], metrics: ExtractMetrics,
                            decode: Dataset[FlatRowEnc] => Dataset[FlatRow]) {
  /** The decode view over the unsorted, unpersisted frame. */
  def view: Dataset[FlatRow] = decode(enc)
}

/** The local half of the pipeline: HTML→text → sentences → mentions →
  * pattern matches → page-locally linked triples, all inside ONE
  * `mapPartitions` with broadcast-compiled rules. No shuffle happens here —
  * exactly joern's "local until emit" shape (SURVEY.md §3.1).
  *
  * Linking is two-pass *within the page* (broadcast dictionary):
  *   pass 1 — aliases with a single candidate link directly (the page's
  *            unambiguous entity context set);
  *   pass 2 — ambiguous aliases score candidates:
  *            score = prior + 2.0 * [entity ∈ context]; argmax, ties → min id.
  * ≙ joern's CALLS resolution: normalized-name lookup with candidate
  * multimap (CallResolver.java:70-80; PHPCGFactory.java:41-47).
  */
object TripleExtractor {
  val ContextBonus = 2.0 // shared with ShuffleLinker — equivalence depends on it

  /** Sentence cap per page — a semantic bound, like the reference's slice
    * depth 5 / path cap 30 (`slice.groovy:2-3`, `dataflow.groovy:157-158`). */
  val MaxSentencesPerPage = 1000

  /** The per-page pure function plus its page-level counters — the one
    * update site of pagesIn/pagesErrored/sentences/mentions/triples. */
  private def extractCounted(p: Page, g: Gazetteer, auto: PatternAutomaton,
                             metrics: ExtractMetrics): PageExtract = {
    metrics.pagesIn.add(1)
    val ex = extractPage(p, g, auto) // total: errors come back as rows
    if (ex.error != null) metrics.pagesErrored.add(1)
    else {
      metrics.sentences.add(ex.nSentences)
      metrics.mentions.add(ex.mentions.size)
      metrics.triples.add(ex.triples.size)
    }
    ex
  }

  /** The one distributed extraction — build, increments, streams and probes
    * alike (≙ the reference's one exporter chain, `FunctionDatabaseNode.
    * initialize` → `CSVWriterImpl`). Owns the broadcasts, the metrics, the
    * encode and the decode dictionaries. */
  def flat(pages: Dataset[Page], nPersons: Int,
           rules: Seq[PatternRule] = PatternAutomaton.DefaultRules): Extraction = {
    val sc = pages.sparkSession.sparkContext
    val g = Gazetteer.default(nPersons)
    val a = PatternAutomaton.compile(rules)
    val metrics = new ExtractMetrics(pages.sparkSession)
    val enc = extractFlatEnc(pages, sc.broadcast(g), sc.broadcast(a), metrics)
    val preds = sc.broadcast(a.preds)
    val aliases = sc.broadcast(g.aliasArr)
    val kinds = sc.broadcast(FlatDict.RowKinds)
    val labels = sc.broadcast(FlatDict.Labels)
    Extraction(enc, metrics, decodeFlat(_, preds, aliases, kinds, labels))
  }

  /** The encoded frame as batch callers cache it: persisted, KIND-SORTED.
    * A page emits its p/m/e/t rows interleaved; a local (rowKind, pred) sort
    * makes cached batches kind-homogeneous, so their min/max stats let the
    * cache scan skip foreign-kind batches for the view's filters (folded
    * onto the codes by DictDecodeFilterRewrite). Zero shuffle. Streams read
    * [[Extraction.view]]: a streaming Dataset rejects a Sort. */
  def cached(enc: Dataset[FlatRowEnc]): Dataset[FlatRowEnc] = {
    import org.apache.spark.sql.functions.col
    enc.sortWithinPartitions(col("rowKind"), col("pred"))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Dictionary-encoded flat extraction ([[FlatRowEnc]] motivation): the
    * per-page pure function, then a total per-row encode against the
    * broadcast vocabularies (two hash lookups on mention/triple rows —
    * noise next to extraction itself). */
  private def extractFlatEnc(
      pages: Dataset[Page],
      gaz: Broadcast[Gazetteer],
      rules: Broadcast[PatternAutomaton],
      metrics: ExtractMetrics): Dataset[FlatRowEnc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions { it =>
      val g = gaz.value
      val auto = rules.value
      val aliasIdx = g.aliasIdx
      val predIdx = auto.predIdx
      it.flatMap { p =>
        toFlatRows(extractCounted(p, g, auto, metrics), metrics)
          .map(encodeRow(_, aliasIdx, predIdx, metrics))
      }
    }
  }

  /** Total FlatRow → FlatRowEnc encode. A vocabulary miss (impossible by
    * construction) encodes as -1 (= null after decode) and bumps the
    * dictMisses counter — observable, never job-killing. */
  def encodeRow(r: FlatRow, aliasIdx: java.util.HashMap[String, Integer],
                predIdx: Map[String, Int],
                metrics: ExtractMetrics = null): FlatRowEnc = {
    val normC: Int =
      if (r.norm == null) -1
      else {
        val i = aliasIdx.get(r.norm)
        if (i == null) { if (metrics != null) metrics.dictMisses.add(1); -1 }
        else i.intValue()
      }
    val predC: Int =
      if (r.pred == null) -1
      else predIdx.getOrElse(r.pred, {
        if (metrics != null) metrics.dictMisses.add(1); -1
      })
    val k = FlatDict.kindCode(r.rowKind)
    val isM = k == FlatDict.KindM
    val isT = k == FlatDict.KindT
    val isE = k == FlatDict.KindE
    val isP = k == FlatDict.KindP
    // the decode view re-derives the kind-determined defaults; count any
    // deviation so the overlay can never go silently lossy
    if (metrics != null) {
      if (r.conf != (if (isT) 1.0 else 0.0)) metrics.overlayLost.add(1)
      if (!isP && (r.hostId != 0L || r.nSentences != 0 || r.host != null))
        metrics.overlayLost.add(1)
    }
    FlatRowEnc(k, r.pageId, r.url,
      idA = if (isM) r.mentionId else if (isT) r.tripleNodeId
            else if (isP) r.hostId else 0L,
      mentionIdx = if (isP) r.nSentences else r.mentionIdx,
      strA = if (isM) r.surface else if (isT) r.objValue
             else if (isP) r.host else null,
      norm = normC,
      idB = if (isM) r.entityId else if (isE || isT) r.subj else -1L,
      idC = if (isM) r.entityNodeId else if (isE || isT) r.obj else -1L,
      idD = if (isM) r.nextMentionId else if (isT) r.subjMentionId else 0L,
      pred = predC,
      sentIdx = r.sentIdx,
      idE = if (isM) (r.tokStart.toLong << 32) | (r.tokEnd.toLong & 0xffffffffL)
            else if (isT) r.objMentionId else 0L,
      error = r.error,
      label = FlatDict.labelCode(r.label))
  }

  /** The decode view: a 1:1 projection restoring the exact [[FlatRow]]
    * schema over an encoded frame. The four decodes are codegen'd broadcast
    * dictionary lookups evaluated where a consumer's plan actually reads the
    * column (Catalyst prunes the unused ones), so the persisted frame under
    * this view stays int-coded. */
  private def decodeFlat(enc: Dataset[FlatRowEnc],
                 preds: Broadcast[Array[String]],
                 aliases: Broadcast[Array[String]],
                 kinds: Broadcast[Array[String]],
                 labels: Broadcast[Array[String]]): Dataset[FlatRow] = {
    import graft.functions.DictDecode.decode
    import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright, when}
    val spark = enc.sparkSession
    import spark.implicits._
    // every decode-view consumer gets the plan-time code-folding of its
    // kind/pred/label filters (stat-prunable int predicates on the cache)
    graft.functions.GraftOptimizations.install(spark)
    val isP = col("rowKind") === lit(FlatDict.KindP)
    val isM = col("rowKind") === lit(FlatDict.KindM)
    val isT = col("rowKind") === lit(FlatDict.KindT)
    val isET = col("rowKind") === lit(FlatDict.KindE) || isT
    val nullStr = lit(null).cast("string")
    enc.toDF().select(
      decode(col("rowKind"), kinds).as("rowKind"),
      col("pageId"), col("url"),
      when(isP, col("strA")).otherwise(nullStr).as("host"),
      when(isP, col("idA")).otherwise(lit(0L)).as("hostId"),
      when(isP, col("mentionIdx")).otherwise(lit(0)).as("nSentences"),
      when(isM, col("idA")).otherwise(lit(0L)).as("mentionId"),
      when(isM, col("mentionIdx")).otherwise(lit(-1)).as("mentionIdx"),
      when(isM, col("strA")).otherwise(nullStr).as("surface"),
      decode(col("norm"), aliases).as("norm"),
      when(isM, col("idB")).otherwise(lit(-1L)).as("entityId"),
      when(isM, col("idC")).otherwise(lit(0L)).as("entityNodeId"),
      when(isM, col("idD")).otherwise(lit(0L)).as("nextMentionId"),
      when(isET, col("idB")).otherwise(lit(-1L)).as("subj"),
      decode(col("pred"), preds).as("pred"),
      when(isET, col("idC")).otherwise(lit(-1L)).as("obj"),
      when(isT, col("strA")).otherwise(nullStr).as("objValue"),
      col("sentIdx"),
      // tokStart‖tokEnd unpack: sign-preserving long shifts, then a cast
      // that can never overflow (ANSI-safe — each half is a true int)
      when(isM, shiftright(col("idE"), 32).cast("int")).otherwise(lit(-1)).as("tokStart"),
      when(isM, shiftright(shiftleft(col("idE"), 32), 32).cast("int"))
        .otherwise(lit(-1)).as("tokEnd"),
      // rowKind-determined, re-derived (see FlatRowEnc doc): rule-level
      // extraction confidence is 1.0 on every "t" row, 0.0 elsewhere
      when(isT, lit(1.0)).otherwise(lit(0.0)).as("conf"),
      when(isT, col("idA")).otherwise(lit(0L)).as("tripleNodeId"),
      when(isT, col("idD")).otherwise(lit(0L)).as("subjMentionId"),
      when(isT, col("idE")).otherwise(lit(0L)).as("objMentionId"),
      col("error"),
      decode(col("label"), labels).as("label")).as[FlatRow]
  }

  /** Mentions per sentence considered for SAME_SENTENCE pairs — a semantic
    * cap like MaxSentencesPerPage (quadratic pair count must stay bounded
    * for adversarial pages; rule sentences carry ≤3 mentions). */
  val MaxSameSentenceMentions = 16

  def toFlatRows(ex: PageExtract, metrics: ExtractMetrics = null): Iterator[FlatRow] = {
    val hostId = Ids.hash64(ex.host)
    val base = FlatRow("p", ex.pageId, ex.url, ex.host, hostId, ex.nSentences,
      0L, -1, null, null, -1L, 0L, 0L, -1L, null, -1L, null, -1, -1, -1, 0.0, 0L, 0L, 0L, ex.error)
    // per-row-kind byte discipline: the flat frame is the pipeline's one
    // big cache AND the input to every downstream scan, so page-dimension
    // fields ride only where a consumer reads them — `host`/`hostId`/
    // `nSentences` are consumed from "p" rows alone (page nodes, host/domain
    // hierarchy, lineage counters), `url` from "p" rows (page nodes; mention
    // consumers broadcast-join it back via pageId) and "t" rows (the triples
    // table carries provenance urls). Zeroing them elsewhere cuts the
    // cache/scan footprint without touching any consumed value, and is what
    // lets FlatRowEnc overlay them into the p-row slots of shared columns.
    val slim = base.copy(url = null, host = null, error = null,
      hostId = 0L, nSentences = 0)
    // the discourse chain (NEXT_MENTION) is emitted HERE, page-locally —
    // deriving it later would cost a pageId window shuffle over every
    // mention stub for information the extractor already holds
    val marr = ex.mentions.toIndexedSeq
    val ms = marr.iterator.zipWithIndex.map { case (m, i) =>
      slim.copy(rowKind = "m", mentionId = m.mentionId, mentionIdx = i,
        surface = m.surface, norm = m.norm, entityId = m.entityId,
        entityNodeId = if (m.entityId >= 0) Ids.entityNodeId(m.entityId) else 0L,
        nextMentionId = if (i + 1 < marr.length) marr(i + 1).mentionId else 0L,
        sentIdx = m.sentIdx, tokStart = m.tokStart, tokEnd = m.tokEnd,
        // NEXT_MENTION flow label: 'except' when the successor skips over a
        // mention-less sentence (abnormal transfer), null = unconditional
        label = if (i + 1 < marr.length && marr(i + 1).sentIdx - m.sentIdx > 1)
          "except" else null)
    }
    // SAME_SENTENCE pairs (i < j in token order) — the branching page-local
    // discourse graph (≙ CDG edges per function, `cdg/CDGCreator.java:41-88`);
    // emitted page-locally for the same zero-shuffle reason as NEXT_MENTION
    val es = marr.groupBy(_.sentIdx).iterator.flatMap { case (si, sms) =>
      if (metrics != null && sms.length > MaxSameSentenceMentions)
        metrics.sameSentenceDropped.add(sms.length - MaxSameSentenceMentions)
      val ids = sms.take(MaxSameSentenceMentions).map(_.mentionId)
      for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.length
      // pred stays null too: every "e" row is a SAME_SENTENCE pair by
      // construction (the one consumer, Pipeline.graphTables, stamps the
      // kind as a literal) — a 13-byte constant on a quadratic row class
      // would be pure cache/scan weight
      } yield slim.copy(rowKind = "e", subj = ids(i), obj = ids(j),
        sentIdx = si,
        // branch label: adjacent pair = the taken branch, skip pair = the
        // bypass (≙ CFGEdge True/False on condition out-edges)
        label = if (j == i + 1) "True" else "False")
    }
    val ts = ex.triples.iterator.map { t =>
      slim.copy(rowKind = "t", url = ex.url, subj = t.subj, pred = t.pred, obj = t.obj,
        objValue = t.objValue, sentIdx = t.sentIdx, conf = t.conf,
        tripleNodeId =
          if (t.pred == "same_as") 0L
          else Ids.tripleNodeId(t.subjMentionId, t.pred, t.objMentionId, t.objValue),
        subjMentionId = t.subjMentionId, objMentionId = t.objMentionId)
    }
    Iterator(base) ++ ms ++ es ++ ts
  }

  def hostOf(url: String): String = {
    val noScheme = {
      val i = url.indexOf("://")
      if (i >= 0) url.substring(i + 3) else url
    }
    val slash = noScheme.indexOf('/')
    if (slash >= 0) noScheme.substring(0, slash) else noScheme
  }

  /** Pure single-page extraction — also the single-threaded oracle path.
    * TOTAL: never throws; malformed pages come back with `error` set and an
    * empty mention/triple list (per-unit error isolation lives HERE, not
    * only in the distributed wrapper — fuzzed in PropertySpec). */
  def extractPage(p: Page, gaz: Gazetteer, auto: PatternAutomaton): PageExtract =
    try extractPageUnsafe(p, gaz, auto)
    catch {
      case e: Throwable =>
        val safeUrl = if (p == null || p.url == null) "" else p.url
        // VM-implicit exceptions (NPE/AIOOBE/...) lose their message once
        // the throw site goes hot (fast-throw preallocates message-less
        // instances), so including it would make the error column — and the
        // byte-identity gate — JIT-state-dependent. Explicitly-constructed
        // exceptions carry deterministic messages; keep those.
        val msg = e match {
          case _: NullPointerException | _: ArrayIndexOutOfBoundsException |
               _: ArithmeticException | _: ClassCastException |
               _: ArrayStoreException => ""
          case _ => s": ${String.valueOf(e.getMessage).take(200)}"
        }
        PageExtract(Ids.pageId(safeUrl), safeUrl, hostOf(safeUrl), 0, Nil, Nil,
          s"${e.getClass.getSimpleName}$msg")
    }

  private def extractPageUnsafe(p: Page, gaz: Gazetteer, auto: PatternAutomaton): PageExtract = {
    val pageId = Ids.pageId(p.url)
    val text = TextExtractor.pageText(p.html, p.text)
    val sents = Tokenizer.sentences(text).take(MaxSentencesPerPage)

    // pass 0: tokenize + normalize ONCE + find mentions per sentence
    val sentToks = sents.map(Tokenizer.tokens)
    val sentNorms = sentToks.map(_.map(KB2.norm))
    val sentMentions: Array[List[(Int, Int, String)]] = sentNorms.map(gaz.findMentions)

    // pass 1: page context = entities of unambiguous mentions
    val context: Set[Long] = sentMentions.iterator.flatten.flatMap { case (_, _, norm) =>
      gaz.candidates.get(norm) match {
        case Some((id, _) :: Nil) => Some(id)
        case _ => None
      }
    }.toSet

    // pass 2: resolve every mention
    def resolve(norm: String): Long = gaz.candidates.get(norm) match {
      case Some(List((id, _))) => id
      case Some(cands) =>
        var bestId = -1L
        var bestScore = Double.NegativeInfinity
        cands.foreach { case (id, prior) =>
          val s = prior + (if (context.contains(id)) ContextBonus else 0.0)
          if (s > bestScore || (s == bestScore && id < bestId)) { bestScore = s; bestId = id }
        }
        bestId
      case None => -1L
    }

    val mentions = Vector.newBuilder[LinkedMention]
    val triples = Vector.newBuilder[PageTriple]
    var si = 0
    while (si < sentToks.length) {
      val toks = sentToks(si)
      val ms = sentMentions(si)
      val mentionAt = Array.fill(toks.length)(-1)
      val msArr = ms.toArray
      var k = 0
      while (k < msArr.length) {
        val (s, e, _) = msArr(k)
        var j = s; while (j < e) { mentionAt(j) = k; j += 1 }
        k += 1
      }
      val linked: Array[Long] = msArr.map { case (_, _, norm) => resolve(norm) }
      msArr.zipWithIndex.foreach { case ((s, e, norm), idx) =>
        mentions += LinkedMention(pageId, p.url, Ids.mentionId(pageId, si, s),
          toks.slice(s, e).mkString(" "), norm, linked(idx),
          if (linked(idx) >= 0) 1.0 else 0.0, si, s, e)
      }
      auto.matchAllNorm(toks, sentNorms(si), mentionAt).foreach { case (rule, bindings) =>
        // bindings are token positions for each slot in pattern order
        def slotEntity(slot: Int): Long = {
          val pos = bindings(slot)
          val mIdx = mentionAt(pos)
          if (mIdx >= 0) linked(mIdx) else -1L
        }
        val subj = slotEntity(rule.subjSlot)
        val objPos = bindings(rule.objSlot)
        val objMention = mentionAt(objPos)
        val (obj, objValue) =
          if (objMention >= 0) (linked(objMention), null)
          else (-1L, toks(objPos)) // numeric literal slot
        if (subj >= 0 && (obj >= 0 || objValue != null)) {
          // provenance: the mention ids that filled the slots (subj >= 0
          // implies a subject mention exists at the bound position)
          val subjMid = Ids.mentionId(pageId, si, msArr(mentionAt(bindings(rule.subjSlot)))._1)
          val objMid = if (objMention >= 0) Ids.mentionId(pageId, si, msArr(objMention)._1) else 0L
          triples += PageTriple(subj, rule.pred, obj, objValue, si, 1.0, subjMid, objMid)
        }
      }
      si += 1
    }
    PageExtract(pageId, p.url, hostOf(p.url), sents.length,
      mentions.result(), triples.result(), null)
  }
}
