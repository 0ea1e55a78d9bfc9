package graft.model

import java.sql.Timestamp

/** Core row types of the KG-construction engine.
  *
  * The reference (pauls658/joern) reduces everything to two row tables —
  * nodes and edges (jpanlib `outputModules/csv/CSVWriterImpl.java:19-23,94-99`)
  * — keyed per-unit by `functionId`. Our analog keys every locally-derived
  * row by `pageId` (hash of `url`), and adds a first-class `Triple` table
  * (the fork's relational-dataflow endgame, see joern-php
  * `tools/php/ast2cpg/Main.java:90-147`).
  */
object Schema {
  /** Edge-kind vocabulary (closed, like jpanlib `databaseNodes/EdgeTypes.java:7-51`). */
  object EdgeKinds {
    val IsPageOf     = "IS_PAGE_OF"      // host -> page        (≙ IS_FILE_OF)
    val IsParentHost = "IS_PARENT_HOST_OF" // domain -> host    (≙ IS_PARENT_DIR_OF)
    val Mentions     = "MENTIONS"        // page -> mention     (≙ IS_FUNCTION_OF_AST)
    val LinksTo      = "LINKS_TO"        // mention -> entity   (≙ CALLS resolution)
    val SameAs       = "SAME_AS"         // entity -> entity    (input to canonicalization)
    val NextMention  = "NEXT_MENTION"    // mention -> next mention in page order (≙ FLOWS_TO)
    val SameSentence = "SAME_SENTENCE"   // mention -> later mention, same sentence (≙ CDG/CONTROLS:
                                         //   the page-local discourse graph branches, not just chains)
    val Subject      = "SUBJ"            // triple -> subject mention (provenance, ≙ REACHES `var`)
    val Object       = "OBJ"             // triple -> object mention  (provenance)
  }

  /** Node-kind vocabulary (≙ the `type` column of the reference node table). */
  object NodeKinds {
    val Domain  = "Domain"
    val Host    = "Host"
    val Page    = "Page"
    val Mention = "Mention"
    val Entity  = "Entity"
    val TripleN = "Triple"
  }
}

/** One web page — the unit of local analysis (≙ one function/translation
  * unit in the reference; BASELINE.json input_hint schema). */
case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte], // nullable: when null, `text` is authoritative
    text: String,
    lang: String)

/** An entity mention found in a page's extracted text (≙ a `Symbol`
  * occurrence; jpanlib `outputModules/csv/exporters/CSVUDGExporter.java:30-41`). */
case class Mention(
    pageId: Long,
    url: String,
    mentionId: Long, // deterministic: Ids.mentionId(pageId, start)
    surface: String,
    norm: String,
    sentIdx: Int,
    tokStart: Int,
    tokEnd: Int)

/** A linked mention: candidate entity chosen by the scoring join. */
case class LinkedMention(
    pageId: Long,
    url: String,
    mentionId: Long,
    surface: String,
    norm: String,
    entityId: Long,
    score: Double,
    sentIdx: Int = -1,
    // token span within the sentence (≙ the reference's CodeLocation
    // line:pos span, `ast/CodeLocation.java:14-19`) — surfaced as the
    // node's `loc` prop and the joern-location analog
    tokStart: Int = -1,
    tokEnd: Int = -1)

/** A canonical triple over entity ids, with provenance. */
case class Triple(
    subj: Long,
    pred: String,
    obj: Long,
    objValue: String, // literal object when obj == -1
    url: String,
    conf: Double)

/** Property-graph node row (≙ reference nodes.csv; SURVEY.md §1.1). */
case class GraphNode(
    id: Long,
    kind: String,
    code: String,
    pageId: Long,
    childNum: Int,
    props: Map[String, String])

/** Property-graph edge row (≙ reference edges.csv). */
case class GraphEdge(
    src: Long,
    dst: Long,
    kind: String,
    variable: String, // nullable (≙ the `var` property on REACHES edges)
    // nullable flow label (≙ CFGEdge.java:12-18 True/False/except):
    // SAME_SENTENCE carries True (adjacent pair) / False (skip pair);
    // NEXT_MENTION carries except when the flow jumps over a mention-less
    // sentence; null = unconditional flow / non-flow edge
    label: String = null)

/** Deterministic 64-bit ids — no `monotonically_increasing_id`, no per-run
  * counters. The reference's dense per-run ids only need to be unique under
  * `_key` at import (octopus `titan/CSVImporter.java:111-137`); hashing the
  * natural key gives global uniqueness with zero coordination, which is what
  * survives a 1000-executor run.
  */
object Ids {
  /** FNV-1a 64-bit over UTF-8 bytes, finalized with a splitmix64 mix.
    * Pure Scala so the same function runs in executors, tests and the
    * single-threaded oracle path (byte-identity invariant, FIXTURES.md §5). */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    mix(h)
  }

  def hash64(a: Long, b: Long): Long = mix(mix(a) ^ (b + 0x9e3779b97f4a7c15L))

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def pageId(url: String): Long = hash64(url)
  def mentionId(pageId: Long, sentIdx: Int, tokStart: Int): Long =
    hash64(pageId, (sentIdx.toLong << 32) | (tokStart & 0xffffffffL))
  def entityNodeId(entityId: Long): Long = hash64(entityId, 0x456e74L /* "Ent" */)
  def tripleId(subj: Long, pred: String, obj: Long): Long =
    hash64(hash64(subj, hash64(pred)), obj)
  /** Provenance node id of one extraction OCCURRENCE — keyed by the mention
    * ids (position-unique within a page), not the entity ids, so the same
    * fact stated twice yields two Triple nodes, each traceable to its own
    * sentence (≙ the reference's per-statement DDG rows). */
  def tripleNodeId(subjMentionId: Long, pred: String,
                   objMentionId: Long, objValue: String): Long =
    hash64(hash64(subjMentionId, hash64(pred)),
      if (objMentionId != 0L) objMentionId else hash64(String.valueOf(objValue)))
  // NOTE: bucket assignment for the store lives in TableIO (Spark xxhash64
  // pmod) — a second FNV-based helper here once invited silently mismatched
  // bucket math, so it was removed.
}
