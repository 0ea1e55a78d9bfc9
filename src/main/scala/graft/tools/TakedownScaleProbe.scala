package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{Incremental, Pipeline}
import graft.extract.{PatternAutomaton, TripleExtractor}
import graft.model.PageGen
import graft.store.TableIO
import graft.util.Sessions

/** Corpus-size independence of the takedown fast path, measured.
  *
  * The claim under test: `Incremental.removePages` costs O(batch ·
  * bucket-size), NOT O(corpus) — every read it issues (presence anchor,
  * url-bucket rewrites, evidence probe, host/domain liveness, refcount
  * liveness) is pruned to the batch's buckets, and bucket size is a BUILD
  * parameter (`numBuckets` grows with the corpus: the local default 32 ≙
  * thousands at cluster scale). So removing the SAME batch from a corpus
  * twice as large, built with twice the buckets, should cost ~the same
  * wall — a corpus-linear step anywhere would read ~2×.
  *
  * The batch is the same page set for every corpus size (page content is a
  * pure function of the index), restricted to pages with NO same-as
  * extraction so both runs stay on the FAST path (the slow path's cost
  * scales with merge fallout by design, exercised by the removal specs).
  *
  *   SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.tools.TakedownScaleProbe"
  *   (or spark-submit; args: [sizesCsv] [batchN])
  */
object TakedownScaleProbe {
  def main(args: Array[String]): Unit = {
    val slowMode = args.headOption.contains("slow")
    val rest = if (slowMode) args.drop(1) else args
    val sizes =
      if (rest.length > 0) rest(0).split(",").map(_.trim.toInt).toSeq
      else Seq(50000, 100000)
    val batchN = if (rest.length > 1) rest(1).toInt else 2000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local("graft-takedown-scale", cpus)
    import spark.implicits._

    if (slowMode) { runSlow(spark, sizes, batchN); spark.stop(); return }

    val minSize = sizes.min
    val cfg0 = PageGen.Config(nPages = minSize)
    val gaz = graft.extract.Gazetteer.default(cfg0.nPersons)
    val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)
    val batchIdx = Iterator.range(minSize - 20000, minSize)
      .map(_.toLong)
      .filter { i =>
        val p = PageGen.page(cfg0, i)
        p.lang == "en" &&
          !TripleExtractor.extractPage(p, gaz, auto).triples.exists(_.pred == "same_as")
      }
      .take(batchN).toVector
    require(batchIdx.size == batchN,
      s"only ${batchIdx.size} same-as-free pages in the probe range")
    println(s"[tds] batch=${batchIdx.size} same-as-free pages, sizes=$sizes")

    val walls = sizes.map { n =>
      val nb = math.max(64 * (n / sizes.min), 64) // buckets scale with corpus
      val cfg = PageGen.Config(nPages = n)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-tds-$n").toString
      val t = Pipeline.run(spark,
        spark.range(0L, n.toLong).map(i => PageGen.page(cfg, i)), cfg.nPersons)
      Pipeline.materialize(spark, t, dir, numBuckets = nb)
      t.flatEnc.unpersist(false); t.components.unpersist(false)
      val bSet = batchIdx.toSet
      val batch = spark.createDataset(batchIdx).map(i => PageGen.page(cfg, i))
      val remaining = spark.range(0L, n.toLong).filter(i => !bSet.contains(i))
        .map(i => PageGen.page(cfg, i))
      val t0 = System.nanoTime()
      val st = Incremental.removePages(spark, batch, remaining, dir, cfg.nPersons,
        numBuckets = nb)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[tds] corpus=$n buckets=$nb takedownWall=$wall%.1fs $st")
      require(st.deadPairs == 0L, "batch was not same-as-free — probe invalid")
      require(st.pages == batchN.toLong, s"expected $batchN removed, got ${st.pages}")
      TableIO.deleteRecursively(dir)
      (n, wall)
    }
    val ratioCorpus = sizes.max.toDouble / sizes.min
    val ratioWall = walls.last._2 / walls.head._2
    println(f"[tds] corpus ratio=$ratioCorpus%.1fx, takedown wall ratio=$ratioWall%.2fx " +
      f"(O(batch) predicts ~1.0; a corpus-linear step predicts ~$ratioCorpus%.1f)")
    spark.stop()
  }

  /** SLOW-path cell: the removed batch carries the LAST same-as evidence of
    * real merges, so `removePages` must take the component-SPLIT direction
    * (`Incremental.removePages` slow path: evidence-set CC recompute → diff
    * → fallout re-derivation). The claim under test: its cost is O(evidence
    * rows) + O(fallout pages), NOT O(corpus) — at 2× corpus with the same
    * batch and the same fallout the wall should stay ~flat (the only
    * corpus-linear steps are one column-pruned triples scan and the
    * evidence-table pair scan, both far off the critical path).
    *
    * Construction: the base generator gives every natural same-as pair
    * corpus-PROPORTIONAL evidence (evidence pages uniform over the corpus),
    * so no fixed batch can kill a natural pair's last evidence at two
    * corpus sizes. The probe instead reserves TAIL entities: the pipeline's
    * gazetteer spans 2000 persons while base pages only ever mention ids
    * < 500 (PageGen's own nPersons) — ids 500+ appear ONLY in crafted
    * pages. Per pair (a, a+1) from the reserved range: ONE evidence page
    * ("X is also known as Y") and `mentionsPerPair` mention pages (plain
    * lives_in/works_for triples). Removing the evidence pages kills each
    * pair's last evidence; the fallout is exactly the crafted mention
    * pages — bounded and corpus-independent BY CONSTRUCTION, which is the
    * real-world shape (a takedown splits tail entities with bounded
    * attestation, not the head of the corpus).
    *
    *   sbt -batch "runMain graft.tools.TakedownScaleProbe slow"
    *   (args: slow [sizesCsv] [batchN])
    */
  private def runSlow(spark: SparkSession, sizes: Seq[Int], batchN: Int): Unit = {
    import spark.implicits._
    val nPairs = 50
    val mentionsPerPair = 10
    val gazPersons = 2000 // base pages mention < 500; 500+ reserved for the probe
    val minSize = sizes.min
    val cfg0 = PageGen.Config(nPages = minSize) // nPersons = 500 (default)

    def craftedPage(url: String, off: Long, sents: Seq[String]): graft.model.Page =
      graft.model.Page(url, new java.sql.Timestamp(PageGen.BaseTs + 900000000L + off * 1000L),
        null, sents.mkString("\n"), "en")
    val evidencePages = (0 until nPairs).map { p =>
      val a = 500L + 3L * p
      craftedPage(s"https://probe.example.net/ev/$p", p.toLong, Seq(
        s"${graft.model.KB.personFull(a)} is also known as ${graft.model.KB.personFull(a + 1)} ."))
    }
    val mentionPages = (0 until nPairs).flatMap { p =>
      val a = 500L + 3L * p
      (0 until mentionsPerPair).map { m =>
        craftedPage(s"https://probe.example.net/m/$p/$m", 1000L + p * 100L + m, Seq(
          s"${graft.model.KB.personFull(a)} lives in London .",
          s"${graft.model.KB.personFull(a + 1)} works for Acme Computing Society .",
          s"${graft.model.KB.personFull(a)} met ${graft.model.KB.personFull(a + 1)} in Cambridge ."))
      }
    }

    // batch = the evidence pages + same-as-free base padding (constant size,
    // same set at every corpus size)
    val gaz = graft.extract.Gazetteer.default(gazPersons)
    val auto = PatternAutomaton.compile(PatternAutomaton.DefaultRules)
    val padIdx = Iterator.range(math.max(minSize - 20000, 0), minSize)
      .map(_.toLong)
      .filter { i =>
        val p = PageGen.page(cfg0, i)
        p.lang == "en" &&
          !TripleExtractor.extractPage(p, gaz, auto).triples.exists(_.pred == "same_as")
      }
      .take(batchN - nPairs).toVector
    require(padIdx.size == batchN - nPairs,
      s"only ${padIdx.size} same-as-free padding pages in the probe range")
    println(s"[tds-slow] pairs=$nPairs (gazetteer $gazPersons, reserved ids 500+), " +
      s"mentions/pair=$mentionsPerPair, batch=${nPairs + padIdx.size}, sizes=$sizes")

    val walls = sizes.map { n =>
      val nb = math.max(64 * (n / sizes.min), 64)
      val cfg = PageGen.Config(nPages = n)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-tds-slow-$n").toString
      val crafted = spark.createDataset(evidencePages ++ mentionPages)
      val corpus = spark.range(0L, n.toLong).map(i => PageGen.page(cfg, i))
        .unionByName(crafted)
      val t = Pipeline.run(spark, corpus, gazPersons)
      Pipeline.materialize(spark, t, dir, numBuckets = nb)
      t.flatEnc.unpersist(false); t.components.unpersist(false)
      val pSet = padIdx.toSet
      val batch = spark.createDataset(evidencePages)
        .unionByName(spark.createDataset(padIdx).map(i => PageGen.page(cfg, i)))
      val remaining = spark.range(0L, n.toLong).filter(i => !pSet.contains(i))
        .map(i => PageGen.page(cfg, i))
        .unionByName(spark.createDataset(mentionPages))
      val t0 = System.nanoTime()
      val st = Incremental.removePages(spark, batch, remaining, dir, gazPersons,
        numBuckets = nb)
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[tds-slow] corpus=$n buckets=$nb takedownWall=$wall%.1fs $st")
      require(st.deadPairs == nPairs.toLong,
        s"expected $nPairs dead pairs, got ${st.deadPairs} — probe invalid")
      require(st.remappedIds == 2L * nPairs,
        s"expected ${2 * nPairs} remapped ids, got ${st.remappedIds}")
      require(st.affectedUrls == nPairs.toLong * mentionsPerPair,
        s"expected ${nPairs * mentionsPerPair} fallout pages, got ${st.affectedUrls}")
      TableIO.deleteRecursively(dir)
      (n, wall)
    }
    val ratioCorpus = sizes.max.toDouble / sizes.min
    val ratioWall = walls.last._2 / walls.head._2
    println(f"[tds-slow] corpus ratio=$ratioCorpus%.1fx, SLOW-path wall ratio=$ratioWall%.2fx " +
      f"(O(evidence+fallout) predicts ~1.0; a corpus-linear step predicts ~$ratioCorpus%.1f)")
  }
}
