package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/**
 * Approximate-nearest-neighbour search over an embedding column
 * (Array[Float]).
 *
 *  - bruteForceKnn: exact cosine top-k — queries broadcast against the
 *    corpus scan; the baseline and the verifier for the ANN path. One pass
 *    over the corpus per query batch, no shuffle of the corpus.
 *  - lshKnn: random-hyperplane bucket join with multi-probe (1-bit flips) —
 *    the scale path: corpus is bucketed once (map-only signature), queries
 *    probe bits+1 buckets; only bucket collisions are scored.
 */
object Similarity {

  /** Exact top-k by cosine. queries/corpus: (id, vec) shaped via col names. */
  def bruteForceKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                    qId: String = "vec_id", qVec: String = "embedding",
                    cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv")))
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select("query_id", "knn_rank", "item_id", "cos")
  }

  /** ANN top-k via MULTI-TABLE hyperplane LSH + per-table multi-probe
    * (1-bit flips). The corpus is bucketed once per table (map-only
    * signatures, corpus replicated `tables`x); queries probe
    * tables*(bits+1) buckets, i.e. a ~tables*(bits+1)/2^bits fraction of the
    * corpus at the defaults (~2% at 12 bits / 6 tables) — genuinely
    * sub-linear, unlike a few-bit single table that degenerates to
    * near-brute-force.
    *
    * Recall is defined over retrievable structure: neighbours at cos >= 0.9
    * are recalled with p > 0.95 at the defaults (TrainingOpsSpec asserts
    * >= 0.9 on planted clusters). Uniformly random directions (cos ~ 0.4
    * "neighbours") are NOT retrievable by any sub-linear method — that is
    * the regime where ANN legitimately falls back to bruteForceKnn. */
  def lshKnn(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 12,
             tables: Int = 6,
             qId: String = "vec_id", qVec: String = "embedding",
             cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val tableIdx = sequence(lit(0), lit(tables - 1))
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("cv"),
      posexplode(transform(tableIdx, t => lshSigBand(col(cVec), lit(bits), t)))
        .as(Seq("band_idx", "bucket")))
    // per table: the query's signature plus all 1-bit flips
    val probes = flatten(transform(tableIdx, t =>
      transform(multiProbe(lshSigBand(col(qVec), lit(bits), t), lit(bits)),
        p => struct(t.as("band_idx"), p.as("bucket")))))
    val q = broadcast(
      queries.select(col(qId).as("query_id"), col(qVec).as("qv"),
        explode(probes).as("pr"))
        .select(col("query_id"), col("qv"),
          col("pr.band_idx").as("band_idx"), col("pr.bucket").as("bucket")))
    val scored = c.join(q, Seq("band_idx", "bucket"))
      .filter(col("item_id") =!= col("query_id"))
      .dropDuplicates("query_id", "item_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select("query_id", "knn_rank", "item_id", "cos")
  }

  /** [[lshKnn]] with the PORTABLE sha256-derived hyperplane family
    * (VecCore.portablePlaneSign — the same 'hp:t:j:d' planes as
    * Dedup.portableEmbeddingNearDupPairs): corpus bucketed per table by the
    * portable Long keys, queries probe their key plus all 1-bit flips, exact
    * cosine + top-k over the collisions. Identical plan shape to the
    * production lshKnn; every stage (planes, ordered-fold dots, bucket keys,
    * probes, candidate set, cosine, rank) is recomputable by an ANSI oracle —
    * the cross-engine proof of the LSH-kNN *plan*. */
  def portableLshKnn(queries: DataFrame, corpus: DataFrame, k: Int,
                     dim: Int = 64, bits: Int = 8, tables: Int = 4,
                     qId: String = "vec_id", qVec: String = "embedding",
                     cId: String = "vec_id", cVec: String = "embedding"): DataFrame = {
    val fl = typedLit(VecCore.portablePlanes(dim, bits, tables))
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("cv"))
      .select(col("item_id"), col("cv"),
        posexplode(portableKeys(col("cv"), fl, lit(bits), lit(tables)))
          .as(Seq("band_idx", "bucket")))
    val q = broadcast(
      queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
        .select(col("query_id"), col("qv"),
          posexplode(portableKeys(col("qv"), fl, lit(bits), lit(tables)))
            .as(Seq("band_idx", "key")))
        .select(col("query_id"), col("qv"), col("band_idx"),
          explode(multiProbeLong(col("key"), lit(bits))).as("bucket")))
    val scored = c.join(q, Seq("band_idx", "bucket"))
      .filter(col("item_id") =!= col("query_id"))
      .dropDuplicates("query_id", "item_id")
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select("query_id", "knn_rank", "item_id", "cos")
  }

  /** IVF coarse quantizer: Lloyd's k-means over a (deterministic) sample of
    * the corpus. Returns the nlist centroids row-major as one flat
    * Array[Float] (nlist x dim — a few KB, travels as a plan literal).
    * Deterministic: seeding = the nlist lowest-id vectors; per-iteration
    * means are exact aggregations. At crawl scale train on
    * `sampleFraction` ~ 1e-4 of the corpus — quantizer quality needs only
    * O(nlist * 1000) points, never a full pass. */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int, iters: Int = 5,
                        cId: String = "vec_id", cVec: String = "embedding",
                        sampleFraction: Double = 1.0): Array[Float] = {
    val base0 = corpus.select(col(cId).as("id"), col(cVec).as("v"))
    val base = (if (sampleFraction < 1.0)
      base0.sample(withReplacement = false, sampleFraction, seed = 42L) else base0).cache()
    val seeds = base.orderBy("id").limit(nlist)
      .select("v").collect().map(_.getSeq[Float](0).toArray)
    val dim = seeds.headOption.map(_.length).getOrElse(0)
    var flat = seeds.flatten
    var it = 0
    while (it < iters && dim > 0) {
      val assigned = base.withColumn("list",
        nearestCentroid(col("v"), typedLit(flat.toSeq)))
      val means = assigned
        .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("list", "pos").agg(avg(col("x")).as("m"))
        .collect()
      val next = flat.clone() // empty lists keep their previous centroid
      means.foreach(r => next(r.getInt(0) * dim + r.getInt(1)) = r.getDouble(2).toFloat)
      flat = next
      it += 1
    }
    base.unpersist()
    flat
  }

  /** IVF ANN top-k (the brief's "IVF variant as the scale path"): the corpus
    * is assigned ONCE to nlist posting lists (a map-only nearest-centroid
    * expression — at world scale, write it partitioned/bucketed by `list`),
    * and each query scores only its `nprobe` nearest lists — an nprobe/nlist
    * fraction of the corpus, with recall governed by quantizer quality
    * rather than hash luck (contrast lshKnn). Queries broadcast; the corpus
    * never shuffles. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
             nlist: Int = 16, nprobe: Int = 4, iters: Int = 5,
             qId: String = "vec_id", qVec: String = "embedding",
             cId: String = "vec_id", cVec: String = "embedding",
             trainFraction: Double = 1.0): DataFrame = {
    val cents = typedLit(
      trainIvfCentroids(corpus, nlist, iters, cId, cVec, trainFraction).toSeq)
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("cv"))
      .withColumn("list", nearestCentroid(col("cv"), cents))
    val q = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("list", explode(nearestCentroids(col("qv"), cents, lit(nprobe)))))
    // a corpus vector lives in exactly one list, so (query, item) pairs are
    // unique by construction — no dedup needed
    val scored = c.join(q, Seq("list"))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select("query_id", "knn_rank", "item_id", "cos")
  }

  /** World-scale IVF layout: the posting lists PERSISTED as a list-bucketed
    * table (mirror of the packed polygon table of Pipeline.geocodeWorldScale)
    * — the corpus is assigned once (map-only nearest-centroid) and written
    * bucketed+sorted by `list`, so every subsequent query batch reads ONLY
    * its probed lists (bucket pruning on the scan) and pays ZERO exchange on
    * the corpus side. The write amortizes over every batch, exactly like the
    * packed polygon index. */
  def writeIvfBucketed(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
                       centroids: Array[Float], table: String, path: String,
                       buckets: Int = 8,
                       cId: String = "vec_id", cVec: String = "embedding"): Unit = {
    val c = corpus.select(col(cId).as("item_id"), col(cVec).as("cv"))
      .withColumn("list", nearestCentroid(col("cv"), typedLit(centroids.toSeq)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    c.write.bucketBy(buckets, "list").sortBy("list")
      .option("path", path).mode("overwrite").saveAsTable(table)
  }

  /** Query batches over a [[writeIvfBucketed]] layout: probe lists are
    * resolved driver-side (<= nlist ints — the same plan-literal budget as
    * the centroids) and pushed as an IN filter, so the scan bucket-prunes to
    * the probed posting lists; queries broadcast; the corpus side has no
    * exchange anywhere in the plan. */
  def ivfKnnBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                     queries: DataFrame, k: Int, nprobe: Int,
                     centroids: Array[Float],
                     qId: String = "vec_id", qVec: String = "embedding"): DataFrame = {
    val cents = typedLit(centroids.toSeq)
    // cached: the centroid-assignment map work is paid once, not re-run by
    // the driver-side distinct-lists probe AND the join (the query batch is
    // broadcast-sized by construction)
    val q0 = queries.select(col(qId).as("query_id"), col(qVec).as("qv"))
      .withColumn("list", explode(nearestCentroids(col("qv"), cents, lit(nprobe))))
      .cache()
    val lists = q0.select("list").distinct().collect().map(_.getInt(0)).sorted
    val c = spark.table(table)
      .filter(col("list").isin(lists.map(Int.box): _*))
    val scored = c.join(broadcast(q0), Seq("list"))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select("query_id", "knn_rank", "item_id", "cos")
  }
}
