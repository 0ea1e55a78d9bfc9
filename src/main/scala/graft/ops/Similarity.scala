package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKAgg
import graft.util.Materialize

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (exact; O(Q·N) — fine when the query
  * set is small or N fits a broadcast). Scale path: IVF — coarse centroids,
  * inverted lists, probe the nearest `nProbe` lists; the candidate join is
  * on the centroid key, so the shuffle is bounded by list size, not N².
  * Dot products are native codegen'd Catalyst expressions
  * ([[graft.functions.VectorExpressions]]) — one fused Java loop per pair,
  * no per-element lambda interpretation, no UDFs.
  */
object Similarity {

  /** Ordered-sum dot product — native codegen'd expression. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_dot(a, b)

  def norm(a: Column): Column = graft.functions.VectorExpressions.vec_norm(a)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.vec_cosine(a, b)

  /** The composable (interpreted higher-order-function) dot product — kept as
    * the differential-testing twin of the native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Random-hyperplane signature (sign bits packed into a long) — the
    * classic cosine-LSH construction; hyperplanes are deterministic in
    * (seed, plane, dim). */
  def hyperplaneSignature(emb: Column, nPlanes: Int, seed: Long): Column = {
    val bits = (0 until nPlanes).map { p =>
      // pseudo-random ±1 hyperplane: sign chosen per (plane, dim)
      val proj = aggregate(
        zip_with(emb, sequence(lit(0), size(emb) - 1), (v, i) =>
          v.cast("double") * when(
            pmod(hash(lit(seed), lit(p), i), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }


  /** Grouped top-k via the bounded-heap typed Aggregator
    * ([[graft.functions.TopKAgg]]): ships k candidates per group out of each
    * map task instead of window-sorting every scored row. Input needs
    * (query_id, nn_id, cosine); output is (query_id, rank, nn_id, cosine). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("query_id"), col("cosine"), col("nn_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => TopKAgg.Scored(t._2, t._3))
      .agg(TopKAgg.topK(k))
      .toDF("query_id", "hits")
      .select(col("query_id"), posexplode(col("hits")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("nn_id"), col("col.score").as("cosine"))
  }

  /** Exact brute-force cosine top-k neighbors for every query vector.
    * `queries` and `corpus` both shaped (id, embedding). The corpus side
    * should be broadcast when small; for corpus ≫ memory use [[ivfTopK]]. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     broadcastCorpus: Boolean = true): DataFrame = {
    // precompute norms per side ONCE — cosine-per-pair then needs a single
    // array traversal (dot), not three (higher-order exprs are interpreted)
    val c0 = corpus.select(col("id").as("nn_id"), col("embedding").as("nn_emb"),
      norm(col("embedding")).as("nn_norm"))
    val c = if (broadcastCorpus) broadcast(c0) else c0
    val q = queries.select(col("id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", safeCosine("q_emb", "q_norm", "nn_emb", "nn_norm"))
    rankTopK(scored, k)
  }

  /** Precomputed-norm cosine with the zero-norm guard vec_cosine has: a
    * zero-norm vector scores 0.0 instead of a NULL (which would crash the
    * non-nullable decode in rankTopK). */
  private def safeCosine(qe: String, qn: String, ne: String, nn: String): Column =
    when(col(qn) === 0.0 || col(nn) === 0.0, 0.0)
      .otherwise(dot(col(qe), col(ne)) / (col(qn) * col(nn)))

  /** K-means-lite centroids: deterministic pseudo-random init via
    * orderBy(xxhash64(id)).limit(c) — TakeOrdered, a distributed top-k with
    * NO single-partition funnel (a global row_number window funneled the
    * whole corpus through one task). `iters` Lloyd rounds; assignment is a
    * broadcast argmin aggregation, update is a groupBy-average. */
  def kmeansCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 3): DataFrame = {
    // the tiny window below runs over <= nCentroids rows (post-limit)
    val wTiny = org.apache.spark.sql.expressions.Window.orderBy("id")
    var centroids = Materialize.pin(corpus
      .orderBy(xxhash64(col("id"))).limit(nCentroids)
      .select((row_number().over(wTiny) - 1).as("centroid_id"),
        col("embedding").as("c_emb"))).df
    (0 until iters).foreach { it =>
      val prev = centroids
      centroids = assign(corpus, prev)
        .select(col("centroid_id"), col("embedding"))
        .withColumn("pos", explode(sequence(lit(0), size(col("embedding")) - 1)))
        .select(col("centroid_id"), col("pos"),
          element_at(col("embedding"), col("pos") + 1).cast("double").as("v"))
        .groupBy("centroid_id", "pos").agg(avg("v").as("m"))
        .groupBy("centroid_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("c_emb"))
        .transform(Materialize.iterate(_, it))
      // filled from `prev`, which nothing reads any more; the last round
      // stays, the result reads it
      Materialize.release(prev)
    }
    centroids
  }

  /** Assign every vector to its nearest centroid — a min(struct) AGGREGATION
    * (partial map-side combine), not a window sort of the N x C scored rows. */
  def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    corpus.crossJoin(broadcast(centroids))
      .withColumn("d", negate(cosine(col("embedding"), col("c_emb"))))
      .groupBy("id")
      .agg(min(struct(col("d"), col("centroid_id"), col("embedding"))).as("best"))
      .select(col("id"), col("best.embedding").as("embedding"),
        col("best.centroid_id").as("centroid_id"))
  }

  /** IVF approximate top-k: probe the `nProbe` nearest inverted lists.
    * The candidate join is an equi-join on centroid_id — shuffle bounded by
    * list sizes; this is the 100-TB path (brute force only seeds/benches). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val centroids = kmeansCentroids(corpus, nCentroids)
    val lists = assign(corpus, centroids)
      .select(col("centroid_id"), col("id").as("nn_id"), col("embedding").as("nn_emb"),
        norm(col("embedding")).as("nn_norm"))
    val q = queries.select(col("id").as("query_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_norm"))
    // nearest nProbe centroids per query via the bounded-heap aggregator
    // (same no-window-sort argument as rankTopK), then re-attach the query
    // payload with a tiny join
    val probeScored = q.crossJoin(broadcast(centroids))
      .select(col("query_id"), cosine(col("q_emb"), col("c_emb")).as("cosine"),
        col("centroid_id").cast("long").as("nn_id"))
    val probes = rankTopK(probeScored, nProbe)
      .select(col("query_id"), col("nn_id").cast("int").as("centroid_id"))
      .join(q, "query_id")
    val cands = probes.join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("cosine", safeCosine("q_emb", "q_norm", "nn_emb", "nn_norm"))
    rankTopK(cands, k)
  }

  /** Feature-hashed dense embedding of a sparse bag-of-labels frame
    * (id, label, count) — the hashing trick the reference's ml scripts get
    * from sally's hashed feature maps (`scripts/ml/joern-knn`,
    * `joern-cluster` consume ast2features output embedded this way): index
    * = label mod dim, value = summed count. Two partial-aggregating
    * groupBys, no window; `dim` is a constant so the dense array is bounded
    * regardless of corpus size. Output (id, embedding) plugs straight into
    * [[bruteForceTopK]] / [[ivfTopK]] / [[kmeansCentroids]]. */
  def featureHashEmbedding(bags: DataFrame, idCol: String = "pageId",
                           dim: Int = 64): DataFrame = {
    bags
      .groupBy(col(idCol).as("id"), pmod(col("label"), lit(dim)).cast("int").as("pos"))
      .agg(sum(col("count")).cast("double").as("v"))
      .groupBy(col("id"))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("v")))).as("m"))
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(try_element_at(col("m"), i), lit(0.0)).cast("float"))
          .as("embedding"))
  }
}
