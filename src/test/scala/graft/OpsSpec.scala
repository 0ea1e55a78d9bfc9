package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.ops._

class DedupSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river bend", // near-dup of 1
    3L -> "completely different content about spark query engines and shuffles",
    4L -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of 1
    5L -> "spark query engines shuffle data between executors during joins")

  test("exact dedup groups identical texts") {
    val r = Dedup.exact(corpus).collect()
    r.length shouldBe 4
    r.find(_.getLong(1) == 1L).get.getLong(2) shouldBe 2L // docs 1 and 4
  }

  test("ngram jaccard finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.ngramJaccard(corpus, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 4L)) // exact dup has jaccard 1.0
    pairs should not contain ((1L, 3L))
    pairs should not contain ((3L, 5L))
  }

  test("minhash LSH recovers exact and near dups") {
    val pairs = Dedup.minhashLSH(corpus, shingleN = 3, numHashes = 32, bands = 16,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 4L))
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
  }

  test("simhash near-dup: identical docs at hamming 0") {
    val pairs = Dedup.simhashNearDup(corpus, maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // (hamming column is long — op contract)
    pairs((1L, 4L)) shouldBe 0L
    pairs.get((1L, 3L)) shouldBe None
  }

  test("minhash estJaccard approximates true jaccard for exact dup") {
    val est = Dedup.minhashLSH(corpus, threshold = 0.9)
      .filter(col("a") === 1 && col("b") === 4)
      .collect()(0).getDouble(2)
    est shouldBe 1.0
  }

  private def ingestAll(base: Seq[(Long, String)],
                        chunks: Seq[Seq[(Long, String)]]): Map[Long, Boolean] = {
    val dir = java.nio.file.Files.createTempDirectory("lsh-index-spec").toString
    try {
      Dedup.buildMinhashIndex(docs(base: _*), dir)
      chunks.flatMap { ch =>
        Dedup.ingestDedup(docs(ch: _*), dir)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1))
      }.toMap
    } finally graft.store.TableIO.deleteRecursively(dir)
  }

  test("ingestDedup drops copies of base and in-batch docs, keeps fresh content") {
    val base = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different content about spark query engines and shuffles")
    val batch = Seq(
      10L -> "the quick brown fox jumps over the lazy dog near the river bank", // dup of base 1
      11L -> "fresh unseen prose describing iterative graph fixpoints at scale",
      12L -> "fresh unseen prose describing iterative graph fixpoints at scale") // dup of 11
    val kept = ingestAll(base, Seq(batch))
    kept shouldBe Map(10L -> false, 11L -> true, 12L -> false)
  }

  test("ingestDedup: chunked ingest equals one-shot ingest (monotone ids)") {
    val base = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different content about spark query engines and shuffles")
    val all = Seq(
      10L -> "the quick brown fox jumps over the lazy dog near the river bank",
      11L -> "fresh unseen prose describing iterative graph fixpoints at scale",
      20L -> "fresh unseen prose describing iterative graph fixpoints at scale",
      21L -> "completely different content about spark query engines and shuffles",
      22L -> "entirely novel final chunk text with no earlier relatives at all")
    val oneShot = ingestAll(base, Seq(all))
    val chunked = ingestAll(base, Seq(all.take(2), all.drop(2)))
    chunked shouldBe oneShot
    oneShot(20L) shouldBe false // dropped against the PREVIOUS chunk via the index
    oneShot(22L) shouldBe true
  }

  test("ingestDedup: a dropped doc's signature still gates later copies") {
    val base = Seq(1L -> "seed document text that makes the first copy a duplicate already")
    val b1 = Seq(10L -> "seed document text that makes the first copy a duplicate already")
    val b2 = Seq(20L -> "seed document text that makes the first copy a duplicate already")
    val kept = ingestAll(base, Seq(b1, b2))
    kept shouldBe Map(10L -> false, 20L -> false)
  }

  test("index compaction folds band generations; gate decisions unchanged") {
    val base = Seq(
      1L -> "the quick brown fox jumps over the lazy dog near the river bank",
      2L -> "completely different content about spark query engines and shuffles")
    val b1 = Seq(10L -> "fresh unseen prose describing iterative graph fixpoints at scale")
    val b2 = Seq(
      20L -> "the quick brown fox jumps over the lazy dog near the river bank", // vs base
      21L -> "fresh unseen prose describing iterative graph fixpoints at scale", // vs b1
      22L -> "entirely novel final chunk text with no earlier relatives at all")
    def run(compactBetween: Boolean): Map[Long, Boolean] = {
      val dir = java.nio.file.Files.createTempDirectory("lsh-compact").toString
      try {
        Dedup.buildMinhashIndex(docs(base: _*), dir)
        val k1 = Dedup.ingestDedup(docs(b1: _*), dir)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1))
        if (compactBetween) {
          Dedup.compactMinhashIndex(spark, dir)
          // compaction folds the two generations into one row per bucket
          graft.store.TableIO.read(spark, s"$dir/bands")
            .groupBy("band", "bandHash").count()
            .collect().foreach(_.getLong(2) shouldBe 1L)
        }
        val k2 = Dedup.ingestDedup(docs(b2: _*), dir)
          .collect().map(r => r.getLong(0) -> r.getBoolean(1))
        (k1 ++ k2).toMap
      } finally graft.store.TableIO.deleteRecursively(dir)
    }
    val plain = run(compactBetween = false)
    plain shouldBe Map(10L -> true, 20L -> false, 21L -> false, 22L -> true)
    run(compactBetween = true) shouldBe plain
  }

  test("a failed ingest append leaves the index readable and the retry converges") {
    import java.nio.file.{Files, Paths}
    import graft.store.TableIO
    val base = Seq(1L -> "the quick brown fox jumps over the lazy dog near the river bank")
    val batch = Seq(
      10L -> "the quick brown fox jumps over the lazy dog near the river bank",
      11L -> "fresh unseen prose describing iterative graph fixpoints at scale")
    val clean = ingestAll(base, Seq(batch))
    val dir = Files.createTempDirectory("lsh-crash").toString
    try {
      Dedup.buildMinhashIndex(docs(base: _*), dir)
      // simulate a crashed ingest: each table holds a REAL data file no
      // manifest claims (a committed file copied under a new name), and
      // task output Spark's committer left under _temporary
      val orphans = Seq("sigs", "bands").flatMap { t =>
        val m = TableIO.readManifest(s"$dir/$t").get
        val (b, fs) = m.files.find(_._2.nonEmpty).get
        val bd = Paths.get(dir, t, "data", s"bucket=$b")
        val orphan = bd.resolve("part-crashed-ingest.parquet")
        Files.copy(bd.resolve(fs.head), orphan)
        val task = Paths.get(dir, t, "data", "_temporary", "0", "task_crashed", s"bucket=$b")
        Files.createDirectories(task)
        Files.copy(bd.resolve(fs.head), task.resolve("part-crashed-task.parquet"))
        Seq(orphan, task)
      }
      // the index still reads as the base alone
      TableIO.read(spark, s"$dir/sigs").count() shouldBe 1L
      val kept = Dedup.ingestDedup(docs(batch: _*), dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      kept shouldBe clean
      orphans.foreach(p => Files.exists(p) shouldBe false)
      // the retried append committed exactly the batch's signatures
      TableIO.read(spark, s"$dir/sigs").select("doc_id").collect().map(_.getLong(0))
        .sorted.toSeq shouldBe Seq(1L, 10L, 11L)
    } finally TableIO.deleteRecursively(dir)
  }

  test("minhash index stores capped bucket lists") {
    val dir = java.nio.file.Files.createTempDirectory("lsh-index-cap").toString
    try {
      val many = (0L until 40L).map(i => i -> "identical boilerplate cookie banner text repeated everywhere")
      Dedup.buildMinhashIndex(docs(many: _*), dir, maxBucket = 5)
      val rows = graft.store.TableIO.read(spark, s"$dir/bands").collect()
      rows.foreach(r => r.getSeq[Long](2).length should be <= 5)
      // and the cap survives an append fold
      Dedup.ingestDedup(docs(Seq(100L -> "identical boilerplate cookie banner text repeated everywhere"): _*),
        dir, maxBucket = 5)
      graft.store.TableIO.read(spark, s"$dir/bands").collect()
        .foreach(r => r.getSeq[Long](2).length should be <= 5)
    } finally graft.store.TableIO.deleteRecursively(dir)
  }
}

class SimilaritySpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  lazy val embs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .withColumnRenamed("vec_id", "id")

  test("brute-force top-k equals an in-memory exact-cosine oracle") {
    val vecs = embs.select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val queries = vecs.keys.toSeq.sorted.take(10)
    val expected = queries.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3)
        .zipWithIndex.map { case ((id, _), rank) => (q, rank + 1, id) }
    }.toSet
    val got = Similarity.bruteForceTopK(embs.filter(col("id").isin(queries: _*)), embs, k = 3)
      .select("query_id", "rank", "nn_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "embedding")
    df.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect()(0).getDouble(0) shouldBe 1.0 +- 1e-9
  }

  test("IVF top-k overlaps brute force on most queries (recall@3 > 0.6)") {
    val q = embs.limit(20)
    val bf = Similarity.bruteForceTopK(q, embs, k = 3)
      .select(col("query_id"), col("nn_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, embs, k = 3, nCentroids = 8, nProbe = 3)
      .select(col("query_id"), col("nn_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    recall should be > 0.6
  }

  test("embedding near-dup finds planted near-duplicates under LSH buckets") {
    import spark.implicits._
    import graft.model.Det
    // planted: 20 base vectors; ids 1000+i are tiny perturbations of i
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        (Det.nextDouble(Det.rand(7L, i.toLong, d.toLong)) - 0.5).toFloat))
    }
    val dups = base.map { case (id, v) =>
      (1000L + id, v.zipWithIndex.map { case (x, d) =>
        x + 0.001f * (Det.nextDouble(Det.rand(9L, id, d.toLong)) - 0.5).toFloat })
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDup(df, threshold = 0.99, nPlanes = 6)
    val pairs = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH with 6 planes: each planted pair agrees on all sign bits with high
    // probability; require most planted pairs recovered and no false accepts
    val recovered = base.map(_._1).count(id => pairs.contains((id, 1000L + id)))
    recovered should be >= 15
    nd.select(min("cosine")).collect()(0).getDouble(0) should be >= 0.99
  }
}

class TextAnalysisSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("token counts match whitespace splits") {
    val docs = Seq((1L, "a b  c", 6L), (2L, "hello", 5L)).toDF("doc_id", "text", "n_chars")
    val r = TextAnalysis.tokenCounts(docs).collect()
    r(0).getInt(1) shouldBe 3 // whitespace RUNS: "a","b","c" (no empty token)
    r(1).getInt(1) shouldBe 1
  }

  test("langId picks the language with most stopword hits") {
    val docs = Seq(
      (1L, "the cat and the dog went to the house of the king"),
      (2L, "der hund und die katze ist nicht ein tier"),
      (3L, "le chat et la maison est une belle chose pour les gens")).toDF("doc_id", "text")
    val r = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    r(1L) shouldBe "en"
    r(2L) shouldBe "de"
    r(3L) shouldBe "fr"
  }

  test("fingerprint is deterministic and fixed-length") {
    val docs = Seq((1L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.fingerprint(docs).collect()(0).getSeq[Long](1)
    val b = TextAnalysis.fingerprint(docs).collect()(0).getSeq[Long](1)
    a shouldBe b
    a.length shouldBe 4
  }

  test("bpe-ish token estimate counts word and punct runs") {
    val docs = Seq((1L, "hello, world! it's 42")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeTokenEstimate(docs).collect()(0)
    r.getInt(1) shouldBe 5 // hello world it s 42
  }

  test("piiRedact counts and redacts emails + phone shapes deterministically") {
    val docs = Seq(
      (1L, "mail a.b+c@ex-1.org and X@y.io, call 555-123-4567 now"),
      (2L, "no pii here"),
      (3L, "999-000-1234 999-000-1234")).toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(docs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    r(1L)._1 shouldBe 2L // both email shapes
    r(1L)._2 shouldBe 1L
    r(2L) shouldBe ((0L, 0L,
      TextAnalysis.piiRedact(docs).filter(col("doc_id") === 2L)
        .head().getString(3))) // deterministic md5, no matches
    r(3L)._2 shouldBe 2L // duplicate phone counted per occurrence
    // the redacted text hash differs from the raw-text hash iff matches hit
    val raw = docs.select(col("doc_id"), md5(col("text"))).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    r(1L)._3 should not be raw(1L)
    r(2L)._3 shouldBe raw(2L)
  }
}

class MultimodalSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  test("synthetic media is deterministic and batched extraction works") {
    val m1 = Multimodal.synthMedia(spark, 200)
    val f = Multimodal.extractFeatures(m1)
    val rows = f.collect()
    rows.length shouldBe 200
    // only the corpus's deliberately-truncated WAVs (1 in 20 audio rows) fail
    rows.filter(r => !r.ok).foreach(_.kind shouldBe "audio")
    rows.count(_.ok) should be > 180
    // real decode for images ([w, h, meanR, meanG, meanB]) and audio
    // ([n, zc, min, max, rate]), stub for video
    rows.filter(_.ok).foreach { r =>
      r.feature.length shouldBe (if (r.kind == "video") Multimodal.FakeCodec.Dim else 5)
    }
    // determinism across runs
    val f2 = Multimodal.extractFeatures(Multimodal.synthMedia(spark, 200)).collect()
    f2.map(_.feature.toSeq).toSeq shouldBe rows.map(_.feature.toSeq).toSeq
  }

  test("decode failure is isolated per row") {
    import spark.implicits._
    val bad = Seq(Multimodal.MediaRow(999L, "image", Array.tabulate(16)(_.toByte), 0, 0, 0, 0),
      Multimodal.MediaRow(1000L, "audio", Array.empty, 0, 0, 0, 0)).toDS()
    val f = Multimodal.extractFeatures(bad).collect().sortBy(_.media_id)
    f(0).ok shouldBe false // junk bytes are not a decodable image
    f(0).error should include("decodable")
    f(1).ok shouldBe false
    f(1).error should include("empty")
  }

  test("image rows carry real PNGs; imageStats decode matches metadata and is exact") {
    val media = Multimodal.synthMedia(spark, 120)
    val imgMeta = media.collect().filter(_.kind == "image").map(m => m.media_id -> m).toMap
    imgMeta should not be empty
    val stats = Multimodal.imageStats(media).collect()
    stats.length shouldBe imgMeta.size
    stats.foreach { s =>
      s.ok shouldBe true
      // decoded dims == the row's claimed metadata dims (the PNG is real)
      s.img_w shouldBe imgMeta(s.media_id).width
      s.img_h shouldBe imgMeta(s.media_id).height
      // histogram is a partition of the pixels
      val n = s.img_w.toLong * s.img_h
      Seq(s.lum0, s.lum1, s.lum2, s.lum3, s.lum4, s.lum5, s.lum6, s.lum7).sum shouldBe n
      s.sum_r should be <= 255L * n
    }
    // distributed == single-threaded decode (the mm4 oracle identity)
    val one = imgMeta.values.minBy(_.media_id)
    val local = Multimodal.ImageCodec.decode(one.bytes)
    val dist = stats.find(_.media_id == one.media_id).get
    (local.sumR, local.sumG, local.sumB) shouldBe ((dist.sum_r, dist.sum_g, dist.sum_b))
  }

  test("audio rows carry real WAVs; audioStats decode is exact and isolates truncated rows") {
    val media = Multimodal.synthMedia(spark, 200)
    val audMeta = media.collect().filter(_.kind == "audio").map(m => m.media_id -> m).toMap
    audMeta should not be empty
    val stats = Multimodal.audioStats(media).collect()
    stats.length shouldBe audMeta.size
    val (good, bad) = stats.partition(_.ok)
    // the deliberately-truncated payloads (16-byte header stubs) must be
    // exactly the failing rows — per-row isolation, nothing else breaks
    bad.map(_.media_id).toSet shouldBe
      audMeta.values.filter(_.bytes.length == 16).map(_.media_id).toSet
    bad should not be empty
    good should not be empty
    def srcSamples(id: Long): Int =
      256 + graft.model.Det.nextInt(graft.model.Det.rand(42L, id, 2), 1792)
    good.foreach { s =>
      s.sample_rate shouldBe 16000
      // decoded sample count == the synth's source count (no frames lost
      // in the WAV container round trip)
      s.n_samples shouldBe srcSamples(s.media_id)
      s.amp_min should be <= s.amp_max
      s.sum_sq should be >= s.sum_abs // x^2 >= |x| for every integer sample
      s.zero_cross should be < s.n_samples
    }
    // distributed == single-threaded decode (the mm5 oracle identity)
    val one = audMeta.values.filter(_.bytes.length > 16).minBy(_.media_id)
    val local = Multimodal.AudioCodec.decode(one.bytes)
    val dist = stats.find(_.media_id == one.media_id).get
    (local.sumAbs, local.sumSq, local.zeroCross) shouldBe
      ((dist.sum_abs, dist.sum_sq, dist.zero_cross))
    // WAV write -> stock-JDK read round trip is sample-exact: re-derive the
    // pure sample function and check the decoded extrema/sums against it
    val n = srcSamples(one.media_id)
    val shift = graft.model.Det.nextInt(graft.model.Det.rand(42L, one.media_id, 8), 8)
    val samples = Array.tabulate(n) { j =>
      (((graft.model.Det.rand(42L, one.media_id, 5000L + j) & 0xffff).toInt - 32768) >> shift)
    }
    local.ampMin shouldBe samples.min
    local.ampMax shouldBe samples.max
    local.sumSq shouldBe samples.map(s => s.toLong * s).sum
  }

  test("resize cap holds on rounding boundary; zero-duration video filtered") {
    import spark.implicits._
    // 151 * (100/151) = 100.0000...01 -> ceil would give 101 without the cap
    val m = Seq((1L, "image", Array.emptyByteArray, 151, 50, 0, 0))
      .toDF("media_id", "kind", "bytes", "width", "height", "sampleRate", "durationMs")
    val r = Multimodal.resizePlan(m, 100).head()
    r.getAs[Int]("target_w") shouldBe 100
    val v = Seq((2L, "video", Array.emptyByteArray, 0, 0, 0, 0))
      .toDF("media_id", "kind", "bytes", "width", "height", "sampleRate", "durationMs")
    Multimodal.frameSamplePlan(v, 1000).count() shouldBe 0L // no crash, no row
  }

  test("resize plan never upscales and preserves aspect ratio cap") {
    val m = Multimodal.synthMedia(spark, 100).toDF()
    val plan = Multimodal.resizePlan(m, maxSide = 256)
    plan.filter(col("target_w") > 256 || col("target_h") > 256).count() shouldBe 0L
    plan.filter(col("scale") > 1.0).count() shouldBe 0L
  }

  test("frame sampling yields ceil(duration/every) frames") {
    val m = Multimodal.synthMedia(spark, 100).toDF()
    val plan = Multimodal.frameSamplePlan(m, everyMs = 1000)
    plan.filter(col("n_frames") =!= ceil(col("durationMs") / 1000.0)).count() shouldBe 0L
  }
}
