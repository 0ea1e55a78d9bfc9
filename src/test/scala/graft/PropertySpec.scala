package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.functions._

/** ScalaCheck property layer (SURVEY.md §5): distributed operators vs
  * in-memory oracles on randomized inputs. Small inputs, bounded trials —
  * each trial runs real Spark jobs. (scalatestplus isn't in the offline
  * cache, so trials are drawn with explicit seeds via Gen.pureApply —
  * deterministic by construction.)
  */
class PropertySpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private val Trials = 8
  private def forAll[T](g: Gen[T])(f: T => Unit): Unit =
    (0 until Trials).foreach { i =>
      f(g.pureApply(Gen.Parameters.default.withSize(40), Seed(1000L + i)))
    }
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until Trials).foreach { i =>
      f(g1.pureApply(Gen.Parameters.default.withSize(40), Seed(2000L + i)),
        g2.pureApply(Gen.Parameters.default.withSize(40), Seed(3000L + i)))
    }
  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private val edgeGen: Gen[List[(Long, Long)]] =
    Gen.listOf(for {
      a <- Gen.choose(0L, 25L); b <- Gen.choose(0L, 25L) if a != b
    } yield (a, b))

  test("property: distributed CC == union-find, any random graph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.nonEmpty) {
        val uf = new canon.ConnectedComponents.LocalUnionFind
        edges.foreach { case (a, b) => uf.union(a, b) }
        val got = canon.ConnectedComponents.run(spark, edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got shouldBe uf.components
      }
    }
  }

  test("property: asofJoin == in-memory oracle on random events/states") {
    import spark.implicits._
    val gen = for {
      lefts <- Gen.listOfN(30, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
      rights <- Gen.listOfN(12, Gen.zip(Gen.choose(0L, 4L), Gen.choose(0L, 50L)))
    } yield (lefts.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
      // unique (key, ts) on the right — the operator's documented contract
      rights.distinct.groupBy(identity).keys.toList.zipWithIndex
        .map { case ((k, t), i) => (k, t, i * 10.0) })
    forAll(gen) { lr => val (lefts, rights) = lr;
      val out = ops.Temporal.asofJoin(
        lefts.toDF("k", "ts", "ev"), rights.toDF("k", "ts", "v"), "k", "ts", Seq("v"))
        .collect().map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val oracle = lefts.map { case (k, t, ev) =>
        val cands = rights.filter(r => r._1 == k && r._2 <= t)
        ev -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
      }.toMap
      out shouldBe oracle
    }
  }

  test("property: extractor never throws and is deterministic on arbitrary bytes") {
    val gaz = graft.extract.Gazetteer.default(100)
    val auto = graft.extract.PatternAutomaton.compile(graft.extract.PatternAutomaton.DefaultRules)
    val pageGen = for {
      bytes <- Gen.option(Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
      text <- Gen.option(Gen.listOf(Gen.oneOf(
        Gen.alphaNumStr, Gen.const("<p>"), Gen.const("works for"), Gen.const("SURROGATE"),
        Gen.const("."), Gen.const("NEWLINE"))).map(_.mkString(" ")
        .replace("NEWLINE", "\n").replace("SURROGATE", "XDCHAR")))
      url <- Gen.oneOf(Gen.const(null: String), Gen.const("https://h.x/y"),
        Gen.alphaNumStr)
    } yield model.Page(url, new java.sql.Timestamp(0L), bytes.orNull,
      if (text.isEmpty) null else text.get.replace("XDCHAR", "" + '\uD800'), "en")
    forAll(Gen.listOfN(20, pageGen)) { ps =>
      ps.foreach { p =>
        // never throws (error isolation), and identical bytes -> identical output
        val a = graft.extract.TripleExtractor.extractPage(p, gaz, auto)
        val b = graft.extract.TripleExtractor.extractPage(p, gaz, auto)
        a.triples shouldBe b.triples
        a.mentions shouldBe b.mentions
        a.error shouldBe b.error
      }
    }
  }

  test("property: Steps.reachable == in-memory BFS, any graph/depth") {
    import spark.implicits._
    forAll(edgeGen, Gen.choose(1, 6)) { (edges, depth) =>
      whenever(edges.nonEmpty) {
        val seeds = edges.take(2).map(_._1).distinct
        val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var frontier = seeds.toSet; var visited = seeds.toSet
        (0 until depth).foreach { _ =>
          frontier = frontier.flatMap(n => adj.getOrElse(n, Nil)) -- visited
          visited ++= frontier
        }
        val got = query.Steps.reachable(
          seeds.toDF("id"),
          edges.map { case (a, b) => (a, b, "E") }.toDF("src", "dst", "kind"),
          Seq("E"), maxDepth = depth)
          .collect().map(_.getLong(0)).toSet
        got shouldBe visited
      }
    }
  }

  test("property: integer PageRank == driver recurrence, any random digraph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val e = edges.filter(p => p._1 != p._2).distinct
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
        val outdeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
        val mass = 1000000000000000L
        val perNode = mass / nodes.size
        val base = perNode * 15L / 100L
        var r = nodes.map(_ -> perNode).toMap
        for (_ <- 0 until 4) {
          val cx = e.groupBy(_._2).map { case (dst, in) =>
            dst -> in.map { case (s, _) => r(s) / outdeg(s) }.sum
          }
          r = nodes.map(n => n -> (base + 85L * cx.getOrElse(n, 0L) / 100L)).toMap
        }
        val got = query.GraphAnalytics.pageRankInt(edges.toDF("src", "dst"), iters = 4)
          .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        got shouldBe r
      }
    }
  }

  test("property: distributed k-core == sequential peel, any random graph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val want = GraphTestOracles.kCoreLocal(edges, 2)
        val got = query.GraphAnalytics.kCore(edges.toDF("src", "dst"), k = 2)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got shouldBe want
      }
    }
  }

  test("property: triangle census == brute force, any random graph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val und = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
          .filter(p => p._1 != p._2).distinct.toSet
        val nodes = und.toSeq.flatMap(p => Seq(p._1, p._2)).distinct.sorted
        val cnt = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for {
          Seq(a, b, c) <- nodes.combinations(3)
          if und((a, b)) && und((b, c)) && und((a, c))
        } { cnt(a) += 1; cnt(b) += 1; cnt(c) += 1 }
        val degs = und.toSeq.flatMap(p => Seq(p._1, p._2))
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        val got = query.GraphAnalytics.triangleCounts(edges.toDF("src", "dst"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        got.map(t => t._1 -> t._4).toMap shouldBe
          nodes.map(n => n -> cnt(n)).toMap
        got.foreach { case (id, deg, wedges, _) =>
          deg shouldBe degs(id)
          wedges shouldBe deg * (deg - 1) / 2
        }
      }
    }
  }

  test("property: distributed SCC == sequential Tarjan, any random digraph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val want = VerifyOracle.tarjanScc(edges.filter(p => p._1 != p._2).distinct)
        val got = query.GraphAnalytics.scc(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got shouldBe want
      }
    }
  }

  test("property: integer HITS == driver recurrence, any random digraph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val want = GraphTestOracles.hitsLocal(edges, 4, 1000000000000L)
        val got = query.GraphAnalytics.hitsInt(edges.toDF("src", "dst"), iters = 4)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        got shouldBe want
      }
    }
  }

  test("property: label propagation == driver rounds, any random graph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        val want = GraphTestOracles.lpLocal(edges, 3)
        val got = query.GraphAnalytics.labelPropagation(
          edges.toDF("src", "dst"), iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got shouldBe want
      }
    }
  }

  test("property: sameAs candidates == all-pairs witness count, any random graph") {
    import spark.implicits._
    forAll(edgeGen) { edges =>
      whenever(edges.exists(e => e._1 != e._2)) {
        // hubCap 5 low enough that random 26-node graphs exercise the drop
        val want = GraphTestOracles.sameAsLocal(edges, 1, 0, 1, 5L)
        val got = query.GraphAnalytics.sameAsCandidates(
          edges.toDF("src", "dst"), minInter = 1, jacNum = 0, jacDen = 1,
          hubCap = 5L)
          .collect().map(r => (r.getLong(0), r.getLong(1)) ->
            (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
        got shouldBe want
      }
    }
  }
}
