package graft.extract

import scala.collection.mutable

/** Tokenization + the broadcast-compiled extraction machinery:
  * a gazetteer token-trie (mention finding) and a multi-pattern automaton
  * (relation matching).
  *
  * ≙ the reference's per-statement use/def extraction: an analyzer object
  * holding a rule table, built once and reused across every unit of work
  * (joern-fuzzyc `udg/useDefAnalysis/CASTDefUseAnalyzer.java:47-90` selects a
  * pattern environment per node type; `TaintSources.java:13-38` is the
  * broadcast lexicon). Here both structures are plain serializable Scala
  * data, compiled on the driver and shipped via `sparkContext.broadcast` —
  * rules are data, not code.
  */
object Tokenizer {
  /** Sentences = extracted-text lines (the extractor emits one block per line). */
  def sentences(text: String): Array[String] =
    if (text.isEmpty) Array.empty else text.split('\n')

  /** Whitespace tokenization; trailing sentence punctuation must already be
    * space-separated (guaranteed by extraction normalization for our corpus;
    * robust tokenizer also splits a trailing '.'/','/';' from words > 2 chars,
    * so "Turing." → ["Turing", "."] but "A." stays one token). */
  private val Ws = java.util.regex.Pattern.compile("\\s+")

  def tokens(sentence: String): Array[String] = {
    val raw = Ws.split(sentence).filter(_.nonEmpty)
    raw.flatMap { t =>
      val last = if (t.isEmpty) ' ' else t.charAt(t.length - 1)
      if (t.length > 2 && (last == '.' || last == ',' || last == ';' || last == '!' || last == '?'))
        Array(t.substring(0, t.length - 1), last.toString)
      else Array(t)
    }
  }

  def isNumber(tok: String): Boolean =
    tok.nonEmpty && tok.forall(_.isDigit)
}

/** Gazetteer: token-trie over normalized alias token sequences, longest-match.
  * Candidates per alias may be ambiguous (shared last names). */
final class Gazetteer private (
    val root: Gazetteer.TrieNode,
    val candidates: Map[String, List[(Long, Double)]]) extends Serializable {

  /** Sorted alias vocabulary — the flat cache's `norm` dictionary (every
    * `findMentions` norm is a trie terminal, i.e. a `candidates` key, so the
    * encode lookup is total by construction). @transient: rebuilt per
    * executor JVM from `candidates` (deterministic — sorted), never shipped
    * twice inside the broadcast. */
  @transient lazy val aliasArr: Array[String] = {
    val a = candidates.keysIterator.toArray
    java.util.Arrays.sort(a, null: java.util.Comparator[String])
    a
  }

  /** alias → code for the encoder (executor-side, via the same broadcast). */
  @transient lazy val aliasIdx: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](aliasArr.length * 2)
    var i = 0
    while (i < aliasArr.length) { m.put(aliasArr(i), i); i += 1 }
    m
  }

  /** Longest-match scan over pre-normalized tokens (normalize ONCE per
    * sentence — per-step lowercase copies were the extraction hot spot).
    * Returns (tokStart, tokEndExclusive, normAlias). */
  def findMentions(norms: Array[String]): List[(Int, Int, String)] = {
    val out = mutable.ListBuffer.empty[(Int, Int, String)]
    var i = 0
    while (i < norms.length) {
      var node = root
      var j = i
      var lastEnd = -1
      var continue = true
      while (continue && j < norms.length) {
        node.children.get(norms(j)) match {
          case Some(next) =>
            node = next
            j += 1
            if (node.terminal != null) lastEnd = j
          case None => continue = false
        }
      }
      if (lastEnd > i) {
        out += ((i, lastEnd, norms.slice(i, lastEnd).mkString(" ")))
        i = lastEnd // non-overlapping longest match, then continue after it
      } else i += 1
    }
    out.toList
  }
}

/** Thin indirection so Gazetteer doesn't depend on graft.model at use sites. */
private[extract] object KB2 {
  def norm(tok: String): String = tok.toLowerCase
}

object Gazetteer {
  final class TrieNode extends Serializable {
    val children: mutable.HashMap[String, TrieNode] = mutable.HashMap.empty
    /** non-null when a complete alias ends here (value = normalized alias). */
    var terminal: String = null
  }

  /** The gazetteer of [[graft.model.KB.aliasEntries]]`(nPersons)`. */
  def default(nPersons: Int): Gazetteer =
    build(graft.model.KB.aliasEntries(nPersons).map(e => (e.alias, e.entityId, e.prior)))

  /** Build from (alias, entityId, prior) entries. */
  def build(entries: Iterable[(String, Long, Double)]): Gazetteer = {
    val root = new TrieNode
    val cands = mutable.HashMap.empty[String, List[(Long, Double)]]
    entries.foreach { case (alias, id, prior) =>
      val toks = Tokenizer.tokens(alias).map(KB2.norm)
      if (toks.nonEmpty) {
        var node = root
        toks.foreach { t => node = node.children.getOrElseUpdate(t, new TrieNode) }
        val key = toks.mkString(" ")
        node.terminal = key
        // dedup (norm, entityId) keeping the MAX prior — order-independent,
        // and the exact rule ShuffleLinker's relational dedup replicates
        val cur = cands.getOrElse(key, Nil)
        cur.find(_._1 == id) match {
          case Some((_, p0)) if p0 >= prior => ()
          case Some(_) => cands(key) = (id, prior) :: cur.filterNot(_._1 == id)
          case None => cands(key) = (id, prior) :: cur
        }
      }
    }
    // deterministic candidate order: by entity id
    new Gazetteer(root, cands.view.mapValues(_.sortBy(_._1)).toMap)
  }
}

/** One relation pattern: a sequence of items over (literal word | entity slot
  * | number slot), with the slot indices that become subject and object. */
final case class PatternRule(
    ruleId: Int,
    pred: String,
    items: Vector[PatternItem],
    subjSlot: Int,
    objSlot: Int)

sealed trait PatternItem extends Serializable
case class Lit(word: String) extends PatternItem
case object EntSlot extends PatternItem
case object NumSlot extends PatternItem

/** Compiled multi-pattern automaton: a trie over pattern items, matched in one
  * left-to-right pass per sentence (shared prefixes like "is ..." collapse). */
final class PatternAutomaton private (
    private val root: PatternAutomaton.PNode,
    /** Sorted predicate vocabulary — the flat cache's `pred` dictionary. */
    val preds: Array[String]) extends Serializable {
  import PatternAutomaton._

  /** pred → code for the encoder (executor-side, via the same broadcast). */
  @transient lazy val predIdx: Map[String, Int] = preds.zipWithIndex.toMap

  /** Match against an item sequence. `ents` marks which positions are entity
    * mentions: seq(i) is Some(mentionIdx) or None (plain word).
    * Emits (rule, slotBindings) where bindings(s) = either mention idx or
    * numeric literal position. */
  def matchAll(toks: Array[String], mentionAt: Array[Int]): List[(PatternRule, Vector[Int])] =
    matchAllNorm(toks, toks.map(KB2.norm), mentionAt)

  /** Variant taking pre-normalized tokens (shared with the gazetteer pass). */
  def matchAllNorm(toks: Array[String], norms: Array[String],
                   mentionAt: Array[Int]): List[(PatternRule, Vector[Int])] = {
    val out = mutable.ListBuffer.empty[(PatternRule, Vector[Int])]
    var start = 0
    val n = toks.length
    while (start < n) {
      // walk the trie from `start`
      var node = root
      var i = start
      var bindings = List.empty[Int]
      var continue = true
      while (continue && node != null) {
        node.terminals.foreach { r => out += ((r, bindings.reverse.toVector)) }
        if (i >= n) continue = false
        else {
          val m = mentionAt(i)
          var next: PNode = null
          var adv = 1
          if (m >= 0 && node.ent != null) {
            next = node.ent
            bindings ::= i // bind slot to token position (mention start)
            // skip the whole mention span
            adv = mentionSpan(mentionAt, i)
          } else if (m < 0 && Tokenizer.isNumber(toks(i)) && node.num != null) {
            next = node.num
            bindings ::= i
          } else if (m < 0) {
            next = node.words.getOrElse(norms(i), null)
          }
          if (next == null) continue = false
          else { node = next; i += adv }
        }
      }
      start += (if (mentionAt(start) >= 0) mentionSpan(mentionAt, start) else 1)
    }
    out.toList
  }

  private def mentionSpan(mentionAt: Array[Int], i: Int): Int = {
    val id = mentionAt(i)
    var j = i
    while (j < mentionAt.length && mentionAt(j) == id) j += 1
    j - i
  }
}

object PatternAutomaton {
  final class PNode extends Serializable {
    val words: mutable.HashMap[String, PNode] = mutable.HashMap.empty
    var ent: PNode = null
    var num: PNode = null
    var terminals: List[PatternRule] = Nil
  }

  def compile(rules: Seq[PatternRule]): PatternAutomaton = {
    val root = new PNode
    rules.foreach { r =>
      var node = root
      r.items.foreach {
        case Lit(w) => node = node.words.getOrElseUpdate(KB2.norm(w), { new PNode })
        case EntSlot => if (node.ent == null) node.ent = new PNode; node = node.ent
        case NumSlot => if (node.num == null) node.num = new PNode; node = node.num
      }
      node.terminals = node.terminals :+ r
    }
    new PatternAutomaton(root, rules.map(_.pred).distinct.sorted.toArray)
  }

  /** The default rule set for the synthetic corpus (PageGen grammar). */
  val DefaultRules: Vector[PatternRule] = Vector(
    PatternRule(1, "works_for", Vector(EntSlot, Lit("works"), Lit("for"), EntSlot), 0, 1),
    PatternRule(2, "born_in",   Vector(EntSlot, Lit("was"), Lit("born"), Lit("in"), EntSlot), 0, 1),
    PatternRule(3, "lives_in",  Vector(EntSlot, Lit("lives"), Lit("in"), EntSlot), 0, 1),
    PatternRule(4, "founded",   Vector(EntSlot, Lit("founded"), EntSlot), 0, 1),
    PatternRule(5, "met",       Vector(EntSlot, Lit("met"), EntSlot, Lit("in"), EntSlot), 0, 1),
    PatternRule(6, "met_in",    Vector(EntSlot, Lit("met"), EntSlot, Lit("in"), EntSlot), 0, 2),
    PatternRule(7, "age",       Vector(EntSlot, Lit("is"), NumSlot, Lit("years"), Lit("old")), 0, 1),
    PatternRule(8, "same_as",   Vector(EntSlot, Lit("is"), Lit("also"), Lit("known"), Lit("as"), EntSlot), 0, 1))
}
