package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OrderedFold

/** Principal-component analysis for embedding columns.
  *
  * The published embedding-curation pipelines (SemDeDup, DSIR's
  * embedding variants) PCA-reduce vectors before clustering or cosine
  * dedup. At corpus scale the decomposition itself is NOT the hard part:
  * a d-dimensional embedding column reduces to one d×d covariance
  * matrix in a single distributed pass, and d×d (64×64 here, a few
  * thousand doubles at any realistic d) is a driver-side eigensolve —
  * the classic "big n, small d" factorization split. The corpus is
  * touched exactly twice: once to build the matrix, once to project.
  *
  * Reference behavior: jaccard-mapreduce has no linear algebra; this is
  * part of the demanded training-data-pipeline extension surface.
  */
object Pca {

  private def dsum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x)

  /** Per-element and per-element-pair moment contributions:
    * `(__id, __i, __xi)` and `(__id, __i, __j, __prod)`. Two stacked
    * generators — no join, no shuffle; d² rows per vector flow straight
    * into the moment aggregation's map-side combine.
    */
  private def expanded(embs: DataFrame, idCol: String,
                       vecCol: String): (DataFrame, DataFrame) = {
    val base = embs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
    val xi = base.select(col("__id"), col("__v"),
      posexplode(col("__v")).as(Seq("__i", "__x")))
      .select(col("__id"), col("__v"), col("__i"),
        col("__x").cast("double").as("__xi"))
    val xij = xi.select(col("__id"), col("__i"), col("__xi"),
      posexplode(col("__v")).as(Seq("__j", "__y")))
      .select(col("__id"), col("__i"), col("__j"),
        (col("__xi") * col("__y").cast("double")).as("__prod"))
    (xi.drop("__v"), xij)
  }

  /** The d×d covariance matrix of a vector column as `(i, j, cov)` rows
    * (full symmetric matrix), `cov = E[x_i x_j] − E[x_i]E[x_j]`, rounded
    * to 6 dp.
    *
    * `bitExact = true` (the oracle-gated form) fixes the float
    * accumulation tree by VALUE, not by partitioning: each vector's d²
    * outer-product array folds element-wise inside its `id % nBlocks`
    * block in id order, and block sums fold in block order — a
    * deterministic two-level tree both this plan and the DuckDB oracle
    * replay exactly (the q91 sum contract, blocked for parallelism).
    * The corpus crosses the wire once as n d²-length arrays and the
    * interpreted fold spreads over `nBlocks` tasks — no per-cell
    * corpus-length lists (the naive form shuffled n·d² rows and ran
    * 10× slower at sf0.1).
    *
    * At 100 TB use `bitExact = false`: per-cell `sum` over the expanded
    * `(i, j, prod)` rows aggregates with codegen map-side combine and
    * carries only d² running sums per task — the correct scale shape —
    * differing from the fold only in floating-point accumulation order
    * (agreement is spec-pinned to 1e-9).
    */
  def covariance(embs: DataFrame, idCol: String, vecCol: String,
                 bitExact: Boolean = true, nBlocks: Int = 32): DataFrame =
    if (bitExact) blockedCovariance(embs, idCol, vecCol, nBlocks)
    else plainCovariance(embs, idCol, vecCol)

  private def plainCovariance(embs: DataFrame, idCol: String,
                              vecCol: String): DataFrame = {
    val (xi, xij) = expanded(embs, idCol, vecCol)
    val n = broadcast(
      embs.filter(col(idCol).isNotNull)
        .agg(count(lit(1)).cast("double").as("__n")))
    val moments = xij.groupBy(col("__i"), col("__j"))
      .agg(sum(col("__prod")).as("__s"))
    val means = broadcast(
      xi.groupBy(col("__i")).agg(sum(col("__xi")).as("__m")))
    moments
      .join(means.select(col("__i"), col("__m").as("__mi")), Seq("__i"))
      .join(means.select(col("__i").as("__j"), col("__m").as("__mj")),
        Seq("__j"))
      .crossJoin(n)
      .select(col("__i").as("i"), col("__j").as("j"),
        round(col("__s") / col("__n") -
          (col("__mi") / col("__n")) * (col("__mj") / col("__n")), 6)
          .as("cov"))
  }

  /** Left fold of the key-ordered arrays ([[OrderedFold.values]]) into
    * one element-wise sum array, first element as the seed (DuckDB
    * `list_reduce` semantics, so the oracle's fold tree is literally
    * the same).
    */
  private[operators] def orderedArraySum(key: Column, arr: Column): Column =
    aggregate(OrderedFold.values(arr, key),
      lit(null).cast("array<double>"),
      (acc, x) => when(acc.isNull, x)
        .otherwise(zip_with(acc, x, (a, b) => a + b)))

  private def blockedCovariance(embs: DataFrame, idCol: String,
                                vecCol: String, nBlocks: Int): DataFrame = {
    // materialize the double-cast vector once (its own projection, so the
    // two HOF consumers below reference ONE pass — see the playbook note
    // on HOF chains defeating codegen CSE), and land the heavy
    // outer-product projection AFTER the block repartition so it runs
    // nBlocks-wide even off a single-partition scan
    val base = embs.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("__vd"))
      .withColumn("__blk", pmod(col("__id"), lit(nBlocks)))
      .repartition(nBlocks, col("__blk"))
    val rows = base.select(col("__blk"), col("__id"), col("__vd"),
      flatten(transform(col("__vd"),
        x => transform(col("__vd"), y => x * y))).as("__op"))
    // per-block element-wise fold in id order (groupBy reuses the
    // repartition exchange: same hash distribution on __blk)
    val blocks = rows.groupBy(col("__blk")).agg(
      orderedArraySum(col("__id"), col("__op")).as("__s2"),
      orderedArraySum(col("__id"), col("__vd")).as("__s1"),
      count(lit(1)).as("__cnt"))
    // block sums fold in block order; one row of d² + d doubles
    val tot = blocks.agg(
      orderedArraySum(col("__blk"), col("__s2")).as("__s2"),
      orderedArraySum(col("__blk"), col("__s1")).as("__s1"),
      sum(col("__cnt")).cast("double").as("__n"))
    tot
      .select(posexplode(col("__s2")).as(Seq("__idx", "__sij")),
        col("__s1"), col("__n"))
      .select(
        (col("__idx") - pmod(col("__idx"), size(col("__s1"))))
          .divide(size(col("__s1"))).cast("int").as("i"),
        pmod(col("__idx"), size(col("__s1"))).cast("int").as("j"),
        col("__sij"), col("__s1"), col("__n"))
      .select(col("i"), col("j"),
        round(col("__sij") / col("__n") -
          (element_at(col("__s1"), col("i") + 1) / col("__n")) *
            (element_at(col("__s1"), col("j") + 1) / col("__n")), 6)
          .as("cov"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (Golub &
    * Van Loan §8.5): rotate away the largest off-diagonal mass sweep by
    * sweep until convergence. O(d³) per sweep — milliseconds at any
    * embedding dimensionality; runs on the driver by design (see the
    * object scaladoc). Returns (eigenvalues, eigenvector-columns).
    */
  private[graft] def jacobiEigen(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- 0 until n if i != j) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (sweep < 100 && off() > 1e-18) {
      for (p <- 0 until n - 1; q <- p + 1 until n
           if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** The top-`m` principal components of the embedding column: one row
    * per component, `(component, eigenvalue, basis, offset)`, components
    * ordered by explained variance descending. `basis` is the unit
    * eigenvector; `offset = mean · basis` pre-folds the centering into a
    * scalar so projection needs no mean vector (`(x − μ)·v = x·v − μ·v`).
    * Sign convention: the largest-magnitude basis coefficient is
    * positive — eigenvectors are sign-ambiguous and this pins a
    * deterministic representative.
    *
    * Driver-side work is the d×d eigensolve only; the corpus pass is
    * [[covariance]] (scale path — plain sums).
    */
  def principalComponents(embs: DataFrame, idCol: String, vecCol: String,
                          m: Int): DataFrame = {
    val spark = embs.sparkSession
    val cells = covariance(embs, idCol, vecCol, bitExact = false)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .toMap
    require(cells.nonEmpty, "principalComponents: empty embedding table")
    val d = cells.keys.map(_._1).max + 1
    require(m >= 1 && m <= d, s"m=$m must be in [1, $d]")
    val cov = Array.tabulate(d, d)((i, j) => cells((i, j)))
    val (evals, evecs) = jacobiEigen(cov)
    // mean vector for the projection offsets (tiny second aggregation)
    val (xi, _) = expanded(embs, idCol, vecCol)
    val nRows = embs.filter(col(idCol).isNotNull).count().toDouble
    val mean = xi.groupBy(col("__i")).agg(sum(col("__xi")).as("__s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1) / nRows).toMap
    val rows = (0 until d).sortBy(k => -evals(k)).take(m).zipWithIndex
      .map { case (k, rank) =>
        val basis = Array.tabulate(d)(i => evecs(i)(k))
        val lead = basis.indices.maxBy(i => math.abs(basis(i)))
        val signed = if (basis(lead) < 0) basis.map(-_) else basis
        val offset = signed.indices.map(i => mean(i) * signed(i)).sum
        (rank, evals(k), signed.toSeq, offset)
      }
    spark.createDataFrame(rows)
      .toDF("component", "eigenvalue", "basis", "offset")
  }

  /** Project the embedding column onto a component table from
    * [[principalComponents]]: `(id, proj)` with `proj(k)` the centered
    * coordinate along component k. The component table is
    * broadcast-crossed (m·d doubles); per row the work is m dot
    * products — the corpus's second and final pass.
    */
  def project(embs: DataFrame, idCol: String, vecCol: String,
              components: DataFrame): DataFrame =
    embs.filter(col(idCol).isNotNull)
      .crossJoin(broadcast(
        components.select(col("component"), col("basis"), col("offset"))))
      .select(col(idCol), col("component"),
        (dsum(zip_with(col(vecCol), col("basis"),
          (x, b) => x.cast("double") * b)) - col("offset")).as("__coord"))
      .groupBy(col(idCol))
      .agg(OrderedFold.values(col("__coord"), col("component")).as("proj"))
}
