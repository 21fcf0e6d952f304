package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search operators over `embeddings(vec_id, embedding, label)`
  * and `documents(doc_id, text, ...)` — the M6 scale path beyond the
  * brute-force baselines in the query catalog.
  *
  * - [[bruteForceTopK]]: exact cosine, the verified baseline (O(n*q)).
  * - [[ivfTopK]]: IVF — k-means coarse quantizer; queries probe only the
  *   nProbe nearest cells, so the candidate join touches
  *   ~nProbe/nCells of the corpus. The partition key IS the cell id, the
  *   shape that scales to billions of vectors.
  * - [[minHashCandidatePairs]]: spark.ml MinHashLSH over hashed shingle
  *   vectors — the MLlib-native alternative to the md5-based band join in
  *   the catalog (`x_minhash_lsh`).
  */
object Similarity {

  /** cos over the native codegen kernel, with per-row precomputed norms:
    * one fused multiply-add loop per candidate pair instead of three
    * `aggregate(zip_with(...))` lambda folds, reading `array<float>`
    * parquet vectors (or the k-means double centroids) directly. */
  private val cosExpr = expr("dot_product(qv, cv)") / (col("qn") * col("cn"))

  /** Exact cosine top-k of `queries` against `candidates` (both
    * (id, embedding) shaped); returns (q_id, rn, neighbor_id, cosine). */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.Graft.install(queries.sparkSession)
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qv"),
      expr("sqrt(dot_product(embedding, embedding))").as("qn"))
    val c = candidates.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      expr("sqrt(dot_product(embedding, embedding))").as("cn"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    q.crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosExpr)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id").as("neighbor_id"),
        col("cos").as("cosine"))
  }

  /** IVF approximate top-k: cluster the corpus into nCells with k-means
    * (fixed seed -> deterministic), assign every vector to its cell, and
    * for each query search only the nProbe cells whose centroids are
    * closest to it. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nCells: Int = 8, nProbe: Int = 2): DataFrame = {
    graft.Graft.install(embeddings.sparkSession)
    val withVec = embeddings
      .withColumn("v", array_to_vector(expr("transform(embedding, x -> CAST(x AS double))")))
    val model = new KMeans().setK(nCells).setSeed(42L)
      .setFeaturesCol("v").setPredictionCol("cell")
      .fit(withVec)
    val assigned = model.transform(withVec)
      .select(col("vec_id"), col("embedding"), col("cell"),
        expr("sqrt(dot_product(embedding, embedding))").as("nrm"))

    // nProbe nearest cells per query by centroid dot product
    // (dot_product takes the float query vector and the double centroid
    // side by side — float->double is exact, no cast copy needed)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }.toSeq
    val centDf = assigned.sparkSession.createDataFrame(centroids)
      .toDF("cent_cell", "cent")
    val q = assigned.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val wProbe = Window.partitionBy("q_id").orderBy(col("cos").desc, col("cent_cell").asc)
    val probes = q.crossJoin(broadcast(centDf))
      .withColumn("cos", expr("dot_product(qv, cent)"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("qn"), col("cent_cell").as("cell"))

    // search only within probed cells
    val cand = assigned.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      col("nrm").as("cn"), col("cell"))
    val wTop = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id").asc)
    probes.join(cand, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", cosExpr)
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("c_id").as("neighbor_id"),
        col("cos").as("cosine"))
  }

  /** spark.ml MinHashLSH candidate pairs over hashed 5-gram shingle
    * vectors: pairs with estimated Jaccard distance <= maxDistance.
    * Returns (doc_a, doc_b, jaccard_dist). */
  def minHashCandidatePairs(documents: DataFrame, maxDistance: Double,
      numHashTables: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    graft.Graft.install(spark)
    val shingled = documents
      .withColumn("norm", expr("regexp_replace(lower(trim(text)), '\\\\s+', ' ')"))
      .withColumn("shingles", expr("array_distinct(char_ngrams(norm, 5))"))
      .filter(size(col("shingles")) > 0)
      .select(col("doc_id"), col("shingles"))
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val vecs = tf.transform(shingled)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, maxDistance, "jaccard_dist")
      .select(col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"), col("jaccard_dist"))
      .filter(col("doc_a") < col("doc_b"))
  }
}
