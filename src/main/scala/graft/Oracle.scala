package graft

import scala.collection.mutable

import graft.extract._
import graft.model._

/** Single-threaded oracle: the same pure per-page functions as the cluster
  * path, plus an in-memory union-find — the reference's pattern of asserting
  * DB output against in-memory recomputation
  * (`tests/ddg/testDDGCreator.java:52-60`). The P/R ≥ 0.95 gate compares the
  * distributed pipeline's triple set against this (SURVEY.md §7.4).
  */
object Oracle {
  final case class Result(
      triples: Set[(Long, String, Long, String, String)], // subj, pred, obj, objValue, url
      components: Map[Long, Long],
      texts: Map[String, String])

  def run(cfg: PageGen.Config, targetLang: String = "en"): Result = {
    val gaz = Gazetteer.default(cfg.nPersons)
    val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)

    val uf = new UnionFind
    val raw = mutable.ListBuffer.empty[(Long, String, Long, String, String)]
    val texts = mutable.HashMap.empty[String, String]

    var i = 0L
    while (i < cfg.nPages) {
      val p = PageGen.page(cfg, i)
      texts(p.url) = TextExtractor.pageText(p.html, p.text)
      if (p.lang == targetLang) {
        val ex = TripleExtractor.extractPage(p, gaz, auto)
        ex.triples.foreach { t =>
          if (t.pred == "same_as") { if (t.obj >= 0) uf.union(t.subj, t.obj) }
          else raw += ((t.subj, t.pred, t.obj, t.objValue, ex.url))
        }
      }
      i += 1
    }
    val comp = uf.components
    val canon = raw.map { case (s, p, o, ov, url) =>
      (comp.getOrElse(s, s), p, if (o >= 0) comp.getOrElse(o, o) else o, ov, url)
    }.toSet
    Result(canon, comp, texts.toMap)
  }

  /** Precision/recall of `got` vs `expected` over exact tuple identity. */
  def pr[T](got: Set[T], expected: Set[T]): (Double, Double) = {
    val inter = got.intersect(expected).size.toDouble
    val p = if (got.isEmpty) 1.0 else inter / got.size
    val r = if (expected.isEmpty) 1.0 else inter / expected.size
    (p, r)
  }

  /** Shared with the pipeline's small-graph path — one implementation,
    * one semantics (id -> min id of component). */
  type UnionFind = graft.canon.ConnectedComponents.LocalUnionFind
}
