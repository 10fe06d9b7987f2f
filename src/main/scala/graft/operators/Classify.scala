package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Label classification over embedding columns — the label-propagation /
  * weak-supervision step of an embedding-curated corpus (predict labels
  * for unlabeled documents from their neighbors, or probe embedding
  * quality by nearest-centroid accuracy, the standard linear-probe-lite
  * evaluation).
  *
  * Two estimators with opposite scale profiles:
  *   - [[classifyByVote]]: k-NN majority vote. Composes with ANY
  *     neighbor frame — brute-force, LSH, IVF, or IVFADC top-k — so the
  *     ANN index does the heavy lifting and the vote itself is
  *     result-set-sized work.
  *   - [[labelCentroids]] + [[centroidTopLabel]]: Rocchio
  *     nearest-centroid. One corpus pass builds a |labels|×d model that
  *     broadcasts; classification is a per-row map stage — the cheapest
  *     possible shape at 100 TB, at the cost of a coarser decision
  *     boundary.
  *
  * Reference behavior: jaccard-mapreduce has no classification; this is
  * part of the demanded training-data-pipeline extension surface.
  */
object Classify {

  /** Majority-vote label prediction from a neighbor result frame
    * (`(query_id, neighbor_id, ...)` — the [[Knn]]/[[Pq]] top-k output
    * shape) and an `(id, label)` table. Ties break to the smallest
    * label (deterministic). Output:
    * `(query_id, pred_label, n_votes, n_neighbors)`.
    *
    * Scale shape: the neighbor frame is |Q|·k rows — the label join is
    * AQE-broadcast on that small side, the vote aggregation carries one
    * row per (query, distinct neighbor label), and the argmax window
    * partitions are at most k rows. Null-label neighbors abstain
    * (dropped by the inner join semantics of the vote count).
    */
  def classifyByVote(neighbors: DataFrame, labels: DataFrame,
                     idCol: String, labelCol: String): DataFrame = {
    val lab = labels.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("__lab"))
    val votes = neighbors.select(col("query_id"), col("neighbor_id"))
      .join(lab, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("__lab").asc)
    votes
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_neighbors",
        sum(col("n_votes")).over(Window.partitionBy(col("query_id"))))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__lab").as("pred_label"),
        col("n_votes"), col("n_neighbors"))
  }

  /** Per-label mean embedding — the Rocchio centroid model,
    * `(label, centroid array<double>, n)`, model-sized (|labels|·d).
    *
    * The fold fixes the float accumulation tree by VALUE exactly
    * like [[Pca.covariance]]: each label's vectors fold element-wise
    * inside their `id % nBlocks` block in id order, block sums fold
    * in block order — the deterministic two-level tree the DuckDB
    * oracle replays.
    *
    * Vectors containing a null ELEMENT are dropped up front (below):
    * the fold would otherwise null the whole dimension while the row
    * still counts toward `n`. RAGGED lengths (mixed dimensionality)
    * remain a data-contract violation this operator does not detect —
    * validate dimensionality upstream (the [[Knn]] dim-probe pattern).
    */
  def labelCentroids(embs: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, nBlocks: Int = 32): DataFrame =
    embs
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull &&
        col(labelCol).isNotNull &&
        !exists(col(vecCol), x => x.isNull))
      .select(col(idCol).as("__id"), col(labelCol).as("__lab"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__blk", pmod(col("__id"), lit(nBlocks)))
      .groupBy(col("__lab"), col("__blk"))
      .agg(Pca.orderedArraySum(col("__id"), col("__v")).as("__bsum"),
        count(lit(1)).as("__bn"))
      .groupBy(col("__lab"))
      .agg(Pca.orderedArraySum(col("__blk"), col("__bsum")).as("__sum"),
        sum(col("__bn")).as("n"))
      .select(col("__lab").as(labelCol),
        transform(col("__sum"), s => s / col("n").cast("double"))
          .as("centroid"),
        col("n"))

  /** [[centroidTopLabel]] with the model shipped as LITERALS instead of
    * a joined frame: the centroid table collects to the driver (it is
    * model-sized — the documented LR-weights/SRP-planes pattern) and the
    * argmax becomes ONE `greatest` over per-label `(cos, −label)`
    * structs — a pure whole-stage-codegen projection with no join and
    * no window, which makes it legal on STREAMING DataFrames (the
    * label-propagation-at-ingest shape) and the cheapest batch form.
    * Labels must be integral (they ride negated inside the ordering
    * struct); cosines are bit-identical to [[centroidTopLabel]]'s —
    * same fold tree, with the centroid norm pre-folded driver-side in
    * the same element order — so the two forms predict identically.
    */
  def centroidTopLabelLit(queries: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame,
                          labelCol: String): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val model = centroids
      .select(col(labelCol).cast("long"), col("centroid"))
      .collect()
      .map { r =>
        // a non-integral label column (e.g. string) casts to null —
        // name the contract instead of NPE-ing inside getLong
        require(!r.isNullAt(0),
          s"centroidTopLabelLit: label column '$labelCol' must be " +
            "integral and non-null (a value cast to null — string/float " +
            "labels are not supported by the literal-model form)")
        (r.getLong(0), r.getSeq[Double](1))
      }
      .sortBy(_._1)
    require(model.nonEmpty, "centroidTopLabelLit: empty centroid model")
    // the query norm is referenced by EVERY label's struct — materialize
    // it behind a single-row-generator barrier (the repo's documented
    // CollapseProject defense; a Generate is also streaming-legal) so
    // it computes once per row, not once per label
    val q = queries.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .select(col("query_id"), col("__q"),
        explode_outer(array(
          sqrt(GraftFunctions.dotMixed(col("__q"), col("__q")))))
          .as("__qn"))
    val scoredStructs = model.map { case (l, c) =>
      // same accumulation order as Knn.norm's 0.0-seeded left fold
      val cNorm = math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
      val cos = GraftFunctions.dotMixed(col("__q"), lit(c.toArray)) /
        (col("__qn") * lit(cNorm))
      struct(cos.as("c"), lit(-l).as("nl"))
    }
    val best =
      if (scoredStructs.size == 1) scoredStructs.head
      else greatest(scoredStructs: _*)
    q.select(col("query_id"), best.as("__b"))
      .select(col("query_id"), (-col("__b.nl")).as("pred_label"),
        col("__b.c").as("cos"))
  }

  /** Nearest-centroid label prediction: cosine against every centroid
    * (the model broadcasts — per-row work is |labels| dot products, a
    * pure map stage), argmax by (cosine desc, label asc). Output:
    * `(query_id, pred_label, cos)`.
    */
  def centroidTopLabel(queries: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame, labelCol: String): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    // per-VECTOR norms in each side's own projection (the
    // bruteForceTopK shape): n + |labels| norm evaluations instead of
    // one per (query, label) pair; the join is a plan barrier, so the
    // norms stay materialized
    val q = queries.filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"),
        sqrt(GraftFunctions.dotMixed(col(vecCol), col(vecCol))).as("__qn"))
    val c = broadcast(centroids.select(col(labelCol).as("__lab"),
      col("centroid").as("__c"),
      sqrt(GraftFunctions.dotMixed(col("centroid"), col("centroid")))
        .as("__cn")))
    val scored = q.crossJoin(c)
      .select(col("query_id"), col("__lab"),
        (GraftFunctions.dotMixed(col("__q"), col("__c")) /
          (col("__qn") * col("__cn"))).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("__lab").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("__lab").as("pred_label"), col("cos"))
  }
}
