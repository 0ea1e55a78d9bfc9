package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: fold filter predicates over [[DictDecode]] columns back
  * onto the underlying int codes.
  *
  * The flat extraction cache stores its bounded-vocabulary string columns as
  * small ints under a decode VIEW ([[DictDecode]]), so every consumer-side
  * kind/pred filter arrives at the cache as `dict_decode(code) = 'literal'`.
  * That shape defeats the in-memory columnar scan twice: the decode runs
  * per row inside the filter, and — the expensive half — the predicate is
  * opaque to `InMemoryTableScanExec`'s per-batch stat pruning, so EVERY
  * cached batch is scanned for EVERY kind-restricted consumer. Reverse-
  * mapping the literal through the dictionary at plan time turns the
  * predicate into a plain `code = k` integer comparison: codegen-cheap, and
  * batch-stat prunable (the cache is written kind-sorted, so foreign-kind
  * batches are skipped wholesale — see TripleExtractor.cached).
  *
  * Scope and null discipline: only conjuncts at the TOP of a Filter
  * condition are rewritten — there `null` and `false` both drop the row, so
  * `decode(c) = 's'` (null when c = -1) and `c = k` (false at -1) are
  * interchangeable. Negation / null-test forms carry the vocabulary bounds
  * explicitly (`decode(c) != 's'` keeps only decodable rows, hence
  * `c != k AND 0 <= c < |dict|`). Inside NOT/OR trees or non-Filter
  * expressions the decode stays as-is (null semantics differ; those sites
  * are not scan-bound).
  */
object DictDecodeFilterRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = rewriteConjuncts(cond)
      if (rewritten eq cond) f else f.copy(condition = rewritten)
  }

  private def rewriteConjuncts(e: Expression): Expression = e match {
    case And(l, r) =>
      val l2 = rewriteConjuncts(l); val r2 = rewriteConjuncts(r)
      if ((l2 eq l) && (r2 eq r)) e else And(l2, r2)
    case other => rewriteOne(other)
  }

  private def rewriteOne(e: Expression): Expression = e match {
    // decode(c) = 's'  ⇔  c = code('s')   (both are false/null-drop at -1)
    case EqualTo(d: DictDecode, Literal(s: UTF8String, StringType)) =>
      eqCode(d, s)
    case EqualTo(Literal(s: UTF8String, StringType), d: DictDecode) =>
      eqCode(d, s)
    // decode(c) IN ('a','b',…)  ⇔  c IN (codes present in the dictionary)
    case In(d: DictDecode, vs) if vs.nonEmpty && vs.forall {
          case Literal(_: UTF8String, StringType) => true; case _ => false
        } =>
      val codes = vs.flatMap { case Literal(s: UTF8String, StringType) =>
        lookupCode(d, s).map(codeLit(d, _))
      }
      if (codes.isEmpty) Literal.FalseLiteral else In(d.child, codes)
    // decode(c) != 's'  ⇔  c != code AND c decodable
    case Not(EqualTo(d: DictDecode, Literal(s: UTF8String, StringType))) =>
      neqCode(d, s)
    case Not(EqualTo(Literal(s: UTF8String, StringType), d: DictDecode)) =>
      neqCode(d, s)
    case IsNull(d: DictDecode) =>
      Or(LessThan(d.child, codeLit(d, 0)), boundGE(d))
    case IsNotNull(d: DictDecode) => decodable(d)
    case _ => e
  }

  private def eqCode(d: DictDecode, s: UTF8String): Expression =
    lookupCode(d, s) match {
      case Some(k) => EqualTo(d.child, codeLit(d, k))
      case None => Literal.FalseLiteral // 's' not in vocabulary: never equal
    }

  private def neqCode(d: DictDecode, s: UTF8String): Expression =
    lookupCode(d, s) match {
      case Some(k) => And(Not(EqualTo(d.child, codeLit(d, k))), decodable(d))
      case None => decodable(d) // != an absent string ⇔ decodes at all
    }

  /** 0 <= c < |dict| — the decodable range ([[DictDecode.lookup]]). */
  private def decodable(d: DictDecode): Expression =
    And(GreaterThanOrEqual(d.child, codeLit(d, 0)), Not(boundGE(d)))

  private def boundGE(d: DictDecode): Expression =
    GreaterThanOrEqual(d.child, codeLit(d, d.dict.value.length))

  private def codeLit(d: DictDecode, code: Int): Literal = d.child.dataType match {
    case ByteType => Literal(code.toByte, ByteType)
    case ShortType => Literal(code.toShort, ShortType)
    case _ => Literal(code, IntegerType)
  }

  /** Reverse dictionary lookup, memoized per broadcast: the alias dictionary
    * is gazetteer-sized (millions of entries at 10^12 docs), and the rule
    * runs on every Filter of every plan — a linear probe per predicate
    * would put O(|dict|) on the analysis path of small queries. */
  private val reverseCache =
    new java.util.WeakHashMap[AnyRef, java.util.HashMap[String, Integer]]()

  private def lookupCode(d: DictDecode, s: UTF8String): Option[Int] = {
    val key: AnyRef = d.dict
    val m = reverseCache.synchronized {
      var m = reverseCache.get(key)
      if (m == null) {
        m = new java.util.HashMap[String, Integer](d.dict.value.length * 2)
        val arr = d.dict.value
        var i = 0
        while (i < arr.length) { // first occurrence wins, like decode
          if (arr(i) != null && !m.containsKey(arr(i))) m.put(arr(i), i)
          i += 1
        }
        reverseCache.put(key, m)
      }
      m
    }
    Option(m.get(s.toString)).map(_.intValue())
  }
}

/** Optimizer rule: fold filter-implied equality facts into the projection
  * above the filter.
  *
  * The decode view reconstructs [[graft.extract.FlatRow]] from the overlaid
  * cache via kind-conditional projections (`when(rowKind = m, idA)…`), and
  * nearly every consumer immediately kind-restricts (`filter(rowKind = 'm')`).
  * After predicate pushdown the plan is
  * `Project(when-cascades, Filter(rowKind = k, cache))` — the filter has
  * already DECIDED every kind conditional, yet each projected row still
  * evaluates the full cascade, and the generated code carries every branch
  * (the flagship NH-kernel's cold path was dominated by Janino compiling
  * exactly these cascades). Catalyst propagates constraints for filter
  * inference but never substitutes them into projections, so this rule does:
  * for each top-level conjunct `attr = literal` of the Filter, occurrences of
  * `attr = lit2` in the project list fold to true/false (sound because every
  * projected row passed the filter: attr is non-null and equals the literal,
  * so the equality can never be null), then the boolean/conditional algebra
  * is folded locally — this batch runs AFTER SimplifyConditionals, so the
  * rule cannot lean on the main optimizer to clean up behind it.
  * Result: a kind-restricted consumer's projection is plain column refs —
  * smaller codegen, zero per-row branching. Non-deterministic project
  * expressions are left untouched (folding could change evaluation counts).
  */
object FilterImpliedConstantFold extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Project
  import org.apache.spark.sql.types.BooleanType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(plist, f @ Filter(cond, _)) =>
      val facts = collectFacts(cond)
      if (facts.isEmpty) p
      else {
        var changed = false
        val folded = plist.map { ne =>
          if (!ne.deterministic) ne
          else {
            val ne2 = ne.transformUp(foldWith(facts))
              .asInstanceOf[NamedExpression]
            if (!(ne2 eq ne)) changed = true
            ne2
          }
        }
        if (changed) Project(folded, f) else p
      }
    // within one Filter, conjunct B may fold using facts from conjunct A:
    // if A fails the row drops either way, and whenever A holds the folded B
    // is equivalent — so the filter's row set is unchanged. This is what
    // turns `rowKind = 'm' AND entityId >= 0` (where entityId is itself a
    // kind cascade over the overlay) into `rowKind = 1 AND idB >= 0`.
    // A conjunct must not fold on its OWN fact (it would erase itself).
    // Conjunct ORDER is preserved on reassembly: codegen short-circuits
    // left-to-right, so a folded branch that could error under ANSI on
    // fact-failing rows (none in the decode view — its exprs are total)
    // still sits behind the fact check that excludes those rows.
    case f @ Filter(cond, child) =>
      val cs = conjunctsOf(cond)
      if (cs.length < 2) f
      else {
        var changed = false
        val folded = cs.zipWithIndex.map { case (c, i) =>
          if (!c.deterministic) c
          else {
            // a conjunct semantically equal to c would let two DUPLICATE
            // fact-sources erase each other (both fold to true, dropping
            // the constraint) — exclude it along with c itself
            val others = cs.zipWithIndex.collect {
              case (o, j) if j != i && !o.semanticEquals(c) => o
            }
            val facts =
              if (others.isEmpty) Map.empty[ExprId, Literal]
              else collectFacts(others.reduce(And))
            if (facts.isEmpty) c
            else {
              val c2 = c.transformUp(foldWith(facts))
              if (!(c2 eq c)) changed = true
              c2
            }
          }
        }
        if (!changed) f
        else {
          val kept = folded.filterNot(_ == Literal.TrueLiteral)
          val cond2 =
            if (folded.contains(Literal.FalseLiteral)) Literal.FalseLiteral
            else kept.reduceOption(And).getOrElse(Literal.TrueLiteral)
          Filter(cond2, child)
        }
      }
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  /** Top-level equality conjuncts `attr = non-null-literal` of a filter. */
  private def collectFacts(cond: Expression): Map[ExprId, Literal] = {
    conjunctsOf(cond).collect {
      case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
        a.exprId -> l
      case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
        a.exprId -> l
    }.toMap
  }

  private def foldWith(facts: Map[ExprId, Literal]): PartialFunction[Expression, Expression] = {
    // the fact decides the equality outright (attr is non-null here, so the
    // result is a true boolean, never null)
    case eq @ EqualTo(a: AttributeReference, l: Literal) if decided(facts, a, l).isDefined =>
      decided(facts, a, l).get
    case eq @ EqualTo(l: Literal, a: AttributeReference) if decided(facts, a, l).isDefined =>
      decided(facts, a, l).get
    // local boolean algebra over the decided leaves (the user batch runs
    // after BooleanSimplification/SimplifyConditionals — fold here)
    case Not(Literal(true, BooleanType)) => Literal.FalseLiteral
    case Not(Literal(false, BooleanType)) => Literal.TrueLiteral
    case And(Literal(true, BooleanType), r) => r
    case And(l, Literal(true, BooleanType)) => l
    case And(f @ Literal(false, BooleanType), r) if r.deterministic => f
    case And(l, f @ Literal(false, BooleanType)) if l.deterministic => f
    case Or(Literal(false, BooleanType), r) => r
    case Or(l, Literal(false, BooleanType)) => l
    case Or(t @ Literal(true, BooleanType), r) if r.deterministic => t
    case Or(l, t @ Literal(true, BooleanType)) if l.deterministic => t
    case If(Literal(true, BooleanType), t, _) => t
    case If(Literal(false, BooleanType), _, f) => f
    case If(Literal(null, BooleanType), _, f) => f
    case cw @ CaseWhen(branches, elseValue) if branches.exists(b => decidedCond(b._1)) =>
      val kept = branches.filterNot(b => isFalseOrNull(b._1))
      val firstTrue = kept.indexWhere(_._1 == Literal.TrueLiteral)
      if (kept.isEmpty) elseValue.getOrElse(Literal.create(null, cw.dataType))
      else if (firstTrue == 0) kept.head._2
      else if (firstTrue > 0) CaseWhen(kept.take(firstTrue), Some(kept(firstTrue)._2))
      else CaseWhen(kept, elseValue)
  }

  private def decided(facts: Map[ExprId, Literal], a: AttributeReference,
                      l: Literal): Option[Literal] =
    facts.get(a.exprId).collect {
      case known if known.dataType == l.dataType && l.value != null =>
        if (java.util.Objects.equals(known.value, l.value)) Literal.TrueLiteral
        else Literal.FalseLiteral
    }

  private def decidedCond(c: Expression): Boolean =
    c == Literal.TrueLiteral || isFalseOrNull(c)

  private def isFalseOrNull(c: Expression): Boolean = c match {
    case Literal(false, BooleanType) => true
    case Literal(null, BooleanType) => true
    case _ => false
  }
}

/** Programmatic installer: `spark.sql.extensions` is only honored at session
  * construction, so library entry points (decodeFlat) install the rules into
  * live sessions via `experimental.extraOptimizations` — idempotent. The two
  * rules share one fixedPoint batch, so the decode→code filter fold feeds
  * the projection fold on the next iteration. */
object GraftOptimizations {
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(DictDecodeFilterRewrite, FilterImpliedConstantFold)
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(cur.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
