package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{GraftFunctions, HashFunctions, OrderedFold}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two paths:
  *   - `bruteForceTopK` — exact baseline: queries × corpus cross join with
  *     a per-query top-k window. Correct at any k; cost |Q|·|C|. The right
  *     choice when |Q| is small (it broadcasts the queries).
  *   - `lshBuckets` / `lshTopK` — scale path: sign-random-projection LSH.
  *     Each vector hashes to a bucket id from the signs of `planes`
  *     pseudo-random hyperplane dot products; candidates = same-bucket
  *     pairs, so the join is an equi-join on bucket id (shuffle by bucket,
  *     no cross join). Recall is tuned by `tables` independent hash tables.
  *
  * All arithmetic is done in float64 after explicitly casting each float32
  * element — deterministic and reproducible in the DuckDB oracle (same
  * cast, same left-to-right summation).
  */
object Knn {

  private def dsum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity of two `array<float>` columns, computed as
    * fold-left double sums. Session-free and portable; the operators below
    * use the bit-identical native `DotProductFloat` expression instead
    * (higher-order folds run interpreted, the native one stays in
    * whole-stage codegen).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Dot product of two vector columns in float64 (fold formulation). */
  def dot(a: Column, b: Column): Column =
    dsum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  /** Euclidean norm of a vector column. Pair operators compute this once
    * per VECTOR and join it alongside, instead of once per PAIR inside
    * `cosine` — at n vectors and P candidate pairs that is n norm scans
    * instead of 2P (the dot product is the only per-pair work left).
    */
  def norm(a: Column): Column =
    sqrt(dsum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Native-kernel norm (session must have `GraftFunctions` registered).
    * Shared by every cosine operator so the score arithmetic stays
    * bit-identical across them.
    */
  private[operators] def normF32(v: Column): Column =
    sqrt(GraftFunctions.dotF32(v, v))

  /** Cosine from a precomputed-norm pair — the one scoring expression all
    * cosine operators share.
    */
  private[operators] def cosineFromNorms(a: Column, b: Column,
                                         na: Column, nb: Column): Column =
    GraftFunctions.dotF32(a, b) / (na * nb)

  /** Exact top-k: for each query vector, the k nearest corpus vectors by
    * cosine. `queries` is expected to be small — it is broadcast, making
    * the cross join a map-side nested loop; the heavy side streams.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      normF32(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      normF32(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (table, plane,
    * dim) — md5-derived, mapped to [-0.5, 0.5). Computed ONCE on the
    * driver and shipped as a literal: the column-expression equivalent
    * would re-hash `tables × planes × dim` md5s for every row.
    * Bit-identical to `HashFunctions.md5Long` (and the DuckDB oracle's
    * `('0x'||substr(md5(x),1,15))::BIGINT`).
    */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"plane:$table:$plane:$dim".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString.substring(0, 15)
    ((java.lang.Long.parseLong(hex, 16) % 1000000L) - 500000L) / 1000000.0
  }

  /** The full hyperplane set for one hash table — shared by [[lshBucket]]
    * (typed-literal path) and the SQL-text registry gate, which embeds the
    * SAME constants as `CAST('<toString>' AS DOUBLE)` literals (Java
    * guarantees `Double.toString → parseDouble` round-trips, so both
    * paths bucket bit-identically).
    */
  private[graft] def srpPlanes(table: Int, planes: Int, dim: Int): Seq[Seq[Double]] =
    Seq.tabulate(planes)(p => Seq.tabulate(dim)(d => planeComponent(table, p, d)))

  /** Sign-random-projection bucket id for one hash table: an integer in
    * [0, 2^planes) from the signs of `planes` hyperplane projections.
    * `dim` is the (uniform) vector length. The hyperplanes are
    * driver-computed constants baked into ONE native kernel call
    * (`SrpBucketExpr`) — the equivalent `planes` separate
    * `aggregate(zip_with(...))` folds run on the interpreted
    * higher-order-function path and multiply at embedding-table scale.
    * Requires `GraftFunctions.register` on the session (`lshBuckets`
    * registers before use).
    */
  def lshBucket(vec: Column, table: Int, planes: Int, dim: Int): Column =
    GraftFunctions.srpBucket(vec, srpPlanes(table, planes, dim))

  /** (id, htable, bucket) assignment for every non-null vector — the
    * shuffle-ready index. Same-bucket ids are ANN candidates. ("htable" =
    * hash-table index; not named "table" to stay SQL-identifier-safe.)
    *
    * Null vectors are excluded: they cannot be bucketed meaningfully, and
    * letting them all fall into one bucket per table would create an
    * O(n²) null-vector candidate clique downstream.
    *
    * `dim` is the (uniform) vector length — pass it when known (an
    * embedding model's output dim is fixed); `dim <= 0` probes one row,
    * which costs a tiny driver-side job per call. A WRONG explicit dim
    * yields null buckets (visible in the output, and null join keys drop
    * out of the candidate equi-join) rather than silently lumping every
    * vector into one catastrophic bucket-0 clique.
    */
  def lshBuckets(embs: DataFrame, idCol: String, vecCol: String,
                 tables: Int, planes: Int, dim: Int = -1): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val nonNull = embs.where(col(vecCol).isNotNull)
    val d =
      if (dim > 0) dim
      else nonNull.select(size(col(vecCol))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1)
    // outer ≡ inner (the per-table array is a non-empty literal
    // construction); inner Generate would infer a size()>0 filter that
    // pushdown substitutes into the scan, re-running every SRP bucket
    // kernel a second time per row in the scan filter
    nonNull.select(
      col(idCol),
      posexplode_outer(array((0 until tables).map(t =>
        lshBucket(col(vecCol), t, planes, d)): _*)).as(Seq("htable", "bucket")))
  }

  /** Deterministic seed centroids for the IVF index: the `kCells`
    * lowest-id vectors, as (cid, cvec). A production deployment would
    * refine these with offline Lloyd iterations (or any external
    * clusterer) — the IVF operators below take the centroid table as
    * INPUT, so better centroids drop in without code changes.
    */
  def ivfSeedCentroids(embs: DataFrame, idCol: String, vecCol: String,
                       kCells: Int): DataFrame =
    embs.where(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(kCells)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** Lloyd refinement for the IVF centroid table: `iters` rounds of
    * (assign to nearest centroid by cosine) → (replace each centroid
    * with the element-wise mean of its assigned vectors). Empty cells
    * keep their previous centroid. Returns the refined (cid, cvec)
    * table — drop-in input for `ivfAssign`/`ivfTopK`.
    *
    * The per-component mean is an id-keyed [[OrderedFold.sum]] over
    * float→double casts, then one double→float IEEE rounding, which is
    * what lets a refined-centroid assignment gate against a SQL oracle.
    * The fold materializes each (cell, component)'s value list in one
    * task — fine for centroid refinement (list length = cell size); at
    * extreme cell sizes swap the fold for a plain `avg` and accept
    * last-ulp nondeterminism.
    *
    * Each iteration shuffles by (cid, pos) then cid — both bounded key
    * spaces — and the assignment reuses `ivfAssign`'s map-side argmax
    * (the |E|·|C| scored rows never shuffle).
    */
  def ivfRefine(embs: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    GraftFunctions.register(embs.sparkSession)
    var cents = centroids
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(embs, idCol, vecCol, cents)
      // drop zero-length vectors BEFORE the component explode: an empty
      // array would posexplode_outer into a (pos=null, x=null) row and
      // corrupt its cell's mean with a spurious leading null component
      // (ivfAssign admits empty vectors — NaN cosines — because its
      // oracle-gated contract only excludes nulls)
      val comp = embs.where(size(col(vecCol)) > 0).join(assigned, idCol)
        .select(col("cid"), col(idCol).as("__id"),
          posexplode_outer(col(vecCol)).as(Seq("pos", "x")))
      val means = comp
        .groupBy(col("cid"), col("pos"))
        .agg((OrderedFold.sum(col("x").cast("double"), col("__id")) /
          count(lit(1))).cast("float").as("m"))
        .groupBy(col("cid"))
        .agg(OrderedFold.values(col("m"), col("pos")).as("__mvec"))
      // materialize each iteration's (tiny) centroid table: `cents` is
      // referenced twice per iteration (ivfAssign + the fallback join),
      // so an unmaterialized chain doubles per round — 2^iters plan
      // growth by iteration 10. One localCheckpoint per round keeps the
      // plan constant-size; the superseded checkpoint is released.
      // only release checkpoints created INSIDE this call: iteration 1's
      // `prev` is the caller's `centroids`, which may itself be a live
      // local checkpoint (composed refinement) — destroying it would
      // leave the caller's frame unrecomputable
      val prev = cents
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("__mvec"), col("cvec")).as("cvec"))
        .localCheckpoint()
      if (prev ne centroids) releaseCheckpoint(prev)
    }
    cents
  }

  /** Unpersist the RDD behind a `localCheckpoint`ed frame that is no
    * longer referenced (Dataset.unpersist only covers cache-manager
    * entries, not checkpoint RDDs). No-op on non-checkpointed frames.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** IVF coarse quantization: assign each vector to its nearest
    * centroid by cosine (ties → lowest cid). Centroids broadcast; the
    * argmax is a map-side-partial `max(struct(cos, -cid))` aggregation,
    * NOT a window — the |E|·|C| scored rows never shuffle, only one row
    * per vector does. Output: (id, cid) — the inverted-file index.
    */
  def ivfAssign(embs: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val e = embs.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"), normF32(col(vecCol)).as("__n"))
    val c = centroids.select(col("cid"), col("cvec"),
      normF32(col("cvec")).as("__cn"))
    e.crossJoin(broadcast(c))
      .select(col(idCol),
        cosineFromNorms(col("__v"), col("cvec"), col("__n"), col("__cn"))
          .as("__cos"),
        col("cid"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos").as("c"), (-col("cid")).as("nc"))).as("__m"))
      .select(col(idCol), (-col("__m.nc")).as("cid"))
  }

  /** IVF approximate top-k: each query probes its `nprobe` nearest
    * centroid cells and re-ranks exactly (cosine) against only the
    * vectors assigned to those cells. The query↔corpus meeting is an
    * equi-join on `cid` — candidate volume is bounded by cell sizes, and
    * the full cross join never materializes. Recall is tuned by `nprobe`
    * (and centroid quality); `queries` need not be a subset of the
    * corpus.
    */
  /** The `nprobe` nearest centroid cells per query (by cosine, ties to
    * the lower cid): `(query_id, cid)`. The centroid table is model-sized
    * and broadcast; per-query work is |centroids| dot products plus a
    * query-keyed rank window — the coarse-quantizer probe both [[ivfTopK]]
    * and `Pq.ivfPqTopK` front their candidate generation with.
    */
  def probeCells(queries: DataFrame, centroids: DataFrame,
                 idCol: String, vecCol: String, nprobe: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        normF32(col(vecCol)).as("qn"))
    probeCellsProjected(q, centroids, nprobe)
  }

  /** [[probeCells]] over an already null-filtered, `(query_id, qv, qn)`-
    * projected query frame — callers that also score with the projection
    * ([[ivfTopK]]) build it once instead of scanning and re-normalizing
    * the query set a second time inside the probe.
    */
  private[operators] def probeCellsProjected(q: DataFrame,
      centroids: DataFrame, nprobe: Int): DataFrame =
    probeCellsRankedProjected(q, centroids, nprobe)
      .select(col("query_id"), col("cid"))

  /** [[probeCells]] with the probe RANK kept (`probe_rank`, 1 = nearest
    * cell): the multi-width tuning-sweep input ([[Pq.ivfPqTopKSweep]]) —
    * probe once at the WIDEST setting, and each narrower width is the
    * `probe_rank <= width` subset instead of a re-probe.
    */
  def probeCellsRanked(queries: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String,
                       nprobe: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        normF32(col(vecCol)).as("qn"))
    probeCellsRankedProjected(q, centroids, nprobe)
  }

  private def probeCellsRankedProjected(q: DataFrame,
      centroids: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"probeCells: nprobe=$nprobe")
    val c = centroids.select(col("cid"), col("cvec"),
      normF32(col("cvec")).as("__cn"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("__ccos").desc, col("cid").asc)
    q.crossJoin(broadcast(c))
      .select(col("query_id"), col("cid"),
        cosineFromNorms(col("qv"), col("cvec"), col("qn"), col("__cn"))
          .as("__ccos"))
      .withColumn("probe_rank", row_number().over(wp))
      .filter(col("probe_rank") <= nprobe)
      .select(col("query_id"), col("cid"), col("probe_rank"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val assigned = ivfAssign(corpus, idCol, vecCol, centroids)
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        normF32(col(vecCol)).as("qn"))
    val probed = probeCellsProjected(q, centroids, nprobe)
    // a vector lives in exactly one cell and probed cells are distinct,
    // so candidate pairs are already unique — no dedup needed
    val cand = probed.join(assigned, "cid")
      .select(col("query_id"), col(idCol).as("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), normF32(col(vecCol)).as("cn"))
    val scored = cand
      .join(q, "query_id")
      .join(vecs, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact squared-L2 top-k — the ground truth the PQ/IVFADC stack
    * approximates (ADC is a EUCLIDEAN estimator; recall measured against
    * [[bruteForceTopK]]'s cosine ranking conflates quantization error
    * with the metric mismatch on unnormalized vectors). Same broadcast
    * nested-loop shape as the cosine variant; d² = |q|² + |c|² − 2·⟨q,c⟩
    * with the squared norms computed once per VECTOR (kept UNrooted —
    * sqrt-then-square would perturb the low bits the oracle compare
    * reproduces exactly).
    */
  def bruteForceTopKL2(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // null vectors are excluded EXPLICITLY (the convention of every
    // other Knn entry point): a null dist2 under ASC ordering would
    // sort NULLS FIRST and a single null-embedding corpus row would
    // rank 1 for every query, poisoning any recall ground truth
    val q = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        GraftFunctions.dotF32(col(vecCol), col(vecCol)).as("qsq"))
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        GraftFunctions.dotF32(col(vecCol), col(vecCol)).as("csq"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("qsq") + col("csq")
          - lit(2.0) * GraftFunctions.dotF32(col("qv"), col("cv")))
          .as("dist2"))
      // dist2 is null for ragged or null-ELEMENT vectors even after the
      // row-level null filter — and ASC orders NULLS FIRST, the same
      // rank-1 poisoning; an incomparable pair simply isn't a neighbor
      .filter(col("dist2").isNotNull)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Recall@k of an approximate neighbor result against exact ground
    * truth — the metric that tunes `tables`/`planes`/`nprobe`. Both
    * inputs are `(query_id, neighbor_id, ...)` result frames (e.g.
    * [[lshTopK]]/[[ivfTopK]] vs [[bruteForceTopK]] over the same probe
    * queries). Output per query: `(query_id, n_exact, n_hit, recall)`;
    * queries the approximate index missed entirely keep a row with
    * recall 0.
    *
    * Scale shape: one (query, neighbor)-keyed semi-join plus two
    * query-keyed aggregations with map-side combine — result-set sized,
    * never corpus sized.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ecnt = exact.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"))
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    ecnt.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Approximate top-k: candidates from any shared (table, bucket), exact
    * cosine re-rank on candidates only. Equi-join on the bucket id — the
    * cross join never materializes.
    */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String, k: Int,
              tables: Int = 4, planes: Int = 8, dim: Int = -1): DataFrame = {
    GraftFunctions.register(embs.sparkSession)
    val ids = lshBuckets(embs, idCol, vecCol, tables, planes, dim)
    val candidates = ids.as("a")
      .join(ids.as("b"),
        col("a.htable") === col("b.htable") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("query_id"),
        col(s"b.$idCol").as("neighbor_id"))
      .distinct()
    val vecs = embs.select(col(idCol), col(vecCol),
      normF32(col(vecCol)).as("nrm"))
    val scored = candidates
      .join(vecs.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col("nrm").as("qn")), "query_id")
      .join(vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("nrm").as("cn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosineFromNorms(col("qv"), col("cv"), col("qn"), col("cn"))
          .as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }
}
