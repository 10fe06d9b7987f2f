package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OrderedFold

/** Product quantization for embedding columns (Jégou, Douze, Schmid,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * PQ is the memory side of the ANN story the IVF/LSH operators
  * (`Knn`) leave open: split each d-dim vector into `m` subvectors,
  * vector-quantize each subspace against its own `ksub`-entry codebook,
  * and store only the `m` code bytes — 32× compression at the fixture's
  * d=64/m=8 — so a 100 TB float corpus becomes a few TB of codes that
  * fit an executor cache tier. Search runs against the CODES via
  * asymmetric distance computation (ADC): a query builds one m×ksub
  * lookup table of exact subspace distances, and every candidate's
  * distance is m table lookups summed — no float vector is ever read at
  * scan time.
  *
  * Shuffle shapes: codebooks are model-sized ((m·ksub) rows — always
  * broadcast); encoding shuffles m rows per vector (the per-subspace
  * argmin is a map-side-partial `min(struct)` like `Knn.ivfAssign`,
  * never a window over scored rows); ADC shuffles one row per
  * (query, candidate) into the per-query top-k window, bounded by the
  * probe-set size × corpus, and composes with the IVF cell filter
  * (`Knn.ivfAssign`) to cut the candidate set first.
  *
  * All distance folds run in float→double casts with a value-fixed
  * order (subvector position, then subspace index), so codes, refined
  * codebooks, and ADC rankings are bit-reproducible across engines —
  * the DuckDB oracle replays the identical trees (q115–q117).
  *
  * Reference behavior: jaccard-mapreduce has no vector search; this is
  * part of the demanded training-data-pipeline extension surface.
  */
object Pq {

  /** Left-fold sum of an array column (seeded 0.0; every element is a
    * square, so the DuckDB first-element seeding agrees bitwise).
    */
  private def dsum(xs: Column): Column =
    aggregate(xs, lit(0.0), (acc, x) => acc + x)

  /** Squared L2 distance between a double-array and a double-array,
    * folded in position order.
    */
  private def l2sq(a: Column, b: Column): Column =
    dsum(zip_with(a, b, (x, y) => (x - y) * (x - y)))

  /** Deterministic seed codebooks: subspace `s` of the `ksub` lowest-id
    * vectors, as `(sub, cid, cvec)` with `cid` = the seed's id and
    * `cvec` an `array<double>` of length d/m. The same drop-in contract
    * as `Knn.ivfSeedCentroids` — [[pqRefine]] improves them offline,
    * every operator below takes the codebook table as input.
    */
  def pqSeedCodebooks(embs: DataFrame, idCol: String, vecCol: String,
                      m: Int, ksub: Int): DataFrame = {
    require(m >= 1 && ksub >= 1, s"pqSeedCodebooks: m=$m ksub=$ksub")
    val seeds = embs.where(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("cid"), col(vecCol).as("__v"))
    val dsub = size(col("__v")).divide(m).cast("int")
    seeds
      .select(col("cid"), col("__v"), explode(sequence(lit(0),
        lit(m - 1))).as("sub"))
      .select(col("sub"), col("cid"),
        transform(slice(col("__v"), col("sub") * dsub + 1, dsub),
          x => x.cast("double")).as("cvec"))
  }

  /** Per-(vector, subspace) best code under the codebooks:
    * `(keys…, sub, code)`. Codebooks broadcast; the argmin is map-side
    * partial (`min(struct(d2, cid))`, ties → lowest cid) — the
    * |corpus|·m·ksub scored rows never shuffle, m rows per vector do.
    * `keyCols` lets the residual path carry the coarse cell through
    * the aggregation for free (it is functionally dependent on the id).
    */
  private def subCodes(embs: DataFrame, keyCols: Seq[String],
                       vecCol: String, codebooks: DataFrame): DataFrame = {
    val keys = keyCols.map(col)
    val e = embs.where(col(vecCol).isNotNull)
      .select(keys :+ col(vecCol).as("__v"): _*)
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec"))
    val dsub = size(col("cvec"))
    e.crossJoin(broadcast(cb))
      .select(keys ++ Seq(col("sub"), col("cid"),
        l2sq(transform(slice(col("__v"), col("sub") * dsub + 1, dsub),
          x => x.cast("double")), col("cvec")).as("__d2")): _*)
      .groupBy(keys :+ col("sub"): _*)
      .agg(min(struct(col("__d2").as("d"), col("cid").as("c"))).as("__m"))
      .select(keys ++ Seq(col("sub"), col("__m.c").as("code")): _*)
  }

  private def subCodes(embs: DataFrame, idCol: String, vecCol: String,
                       codebooks: DataFrame): DataFrame =
    subCodes(embs, Seq(idCol), vecCol, codebooks)

  private def encodeKeyed(embs: DataFrame, keyCols: Seq[String],
                          vecCol: String, codebooks: DataFrame): DataFrame = {
    val keys = keyCols.map(col)
    subCodes(embs, keyCols, vecCol, codebooks)
      .groupBy(keys: _*)
      .agg(OrderedFold.values(col("code"), col("sub")).as("codes"))
  }

  /** PQ encoding: `(id, codes)` with `codes(s)` the winning codebook
    * entry id for subspace `s` — the compressed index the ADC scan
    * reads. One corpus pass; output is m ints per vector.
    */
  def pqEncode(embs: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame): DataFrame =
    encodeKeyed(embs, Seq(idCol), vecCol, codebooks)

  /** Residuals vs the assigned coarse centroid (Jégou et al. 2011
    * §III-A): `(id, cell, rvec)` with `rvec = x − centroid(cell)`
    * element-wise in double. This is the table IVFADC quantizes —
    * residuals concentrate around the origin, so the same m/ksub code
    * budget spends its resolution on the part of the vector the coarse
    * quantizer did NOT already explain, which is where the recall gain
    * over raw-vector PQ comes from. Train codebooks ON this table
    * ([[pqSeedCodebooks]]/[[pqRefine]] with `vecCol = "rvec"` work
    * unchanged) and encode with [[pqEncodeResidual]].
    *
    * Shape: the coarse assignment is `Knn.ivfAssign`'s map-side argmax
    * (one id-keyed shuffle) plus one id-keyed join back to the vectors
    * — offline index-build cost; centroids stay a model-sized
    * broadcast.
    */
  def residuals(embs: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    val assigned = Knn.ivfAssign(embs, idCol, vecCol, centroids)
      .select(col(idCol), col("cid").as("cell"))
    embs.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"))
      .join(assigned, Seq(idCol))
      .join(broadcast(centroids.select(col("cid").as("cell"),
        col("cvec").as("__c"))), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col("__v"), col("__c"),
          (x, c) => x.cast("double") - c.cast("double")).as("rvec"))
  }

  /** IVFADC encoding: `(id, cell, codes)` — each vector's coarse cell
    * plus the PQ codes of its RESIDUAL under `codebooks` (which must
    * be trained on [[residuals]] output). The cell rides the encode
    * aggregation as a dependent key — no second assignment pass, no
    * extra join at search time.
    */
  def pqEncodeResidual(embs: DataFrame, idCol: String, vecCol: String,
                       centroids: DataFrame,
                       codebooks: DataFrame): DataFrame =
    encodeKeyed(residuals(embs, idCol, vecCol, centroids),
      Seq(idCol, "cell"), "rvec", codebooks)

  /** [[pqEncodeResidual]] with the MODEL shipped as literals — the
    * index-side maintenance seam for STREAMING ingest: centroids and
    * codebooks collect to the driver (both model-sized — the
    * `Classify.centroidTopLabelLit` pattern) and the whole encode
    * becomes a pure projection (coarse argmax as one `greatest` over
    * per-centroid `(cos, −cid, cvec)` structs, residual as a
    * `zip_with`, per-subspace argmin as one `least` over `(d2, cid)`
    * structs), with generator barriers so the norm / winning centroid
    * / residual each evaluate once per row. No join, no aggregation,
    * no window — legal on an unbounded stream, so new embeddings are
    * assigned + encoded per micro-batch against the static model and
    * UNION into the searchable code table ([[pqEncodeResidual]]
    * output; StreamingSpec proves stream∪old == full-batch re-encode).
    *
    * Bit parity with the batch form: the same `dot_f32` kernel scores
    * the coarse assignment (centroid norms pre-folded driver-side in
    * element order), residual subtraction widens float→double
    * identically, and the subspace d2 is the same position-ordered
    * fold — gated as q167 against the q119-family oracle CTEs.
    */
  def pqEncodeResidualLit(embs: DataFrame, idCol: String, vecCol: String,
                          centroids: DataFrame,
                          codebooks: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(embs.sparkSession)
    import graft.functions.GraftFunctions.dotF32
    val cents = centroids
      .select(col("cid").cast("long"), col("cvec"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          "pqEncodeResidualLit: null centroid row")
        (r.getLong(0),
          r.getSeq[Number](1).map(_.floatValue()).toArray)
      }
      .sortBy(_._1)
    require(cents.nonEmpty, "pqEncodeResidualLit: empty centroid model")
    val cbs = codebooks
      .select(col("sub").cast("int"), col("cid").cast("long"),
        col("cvec"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1),
        r.getSeq[Number](2).map(_.doubleValue()).toArray))
      .groupBy(_._1)
    require(cbs.nonEmpty, "pqEncodeResidualLit: empty codebooks")
    val m = cbs.keys.max + 1
    require(cbs.keySet == (0 until m).toSet,
      s"pqEncodeResidualLit: missing subspaces in ${cbs.keySet}")
    val dsub = cbs(0).head._3.length
    // norm behind a single-row generator: referenced by every
    // centroid's struct (the documented CollapseProject defense;
    // Generate is streaming-legal)
    val e = embs.where(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).as("__v"))
      .select(col(idCol), col("__v"),
        explode_outer(array(sqrt(dotF32(col("__v"), col("__v")))))
          .as("__n"))
    val centStructs = cents.map { case (cid, cv) =>
      // same accumulation as the dot_f32 kernel's norm: double acc
      // over float→double squares in position order
      val cn = math.sqrt(
        cv.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      struct((dotF32(col("__v"), lit(cv)) / (col("__n") * lit(cn)))
        .as("c"), lit(-cid).as("nc"),
        lit(cv.map(_.toDouble)).as("cv"))
    }
    val bestCent =
      if (centStructs.size == 1) centStructs.head
      else greatest(centStructs: _*)
    val withCell = e
      .select(col(idCol), col("__v"),
        explode_outer(array(bestCent)).as("__b"))
      .select(col(idCol), (-col("__b.nc")).as("cell"),
        // residuals' exact expression: float attr minus float-widened
        // centroid, element-wise in double
        explode_outer(array(zip_with(col("__v"), col("__b.cv"),
          (x, c) => x.cast("double") - c))).as("__r"))
    val codes = array((0 until m).map { s =>
      val sv = slice(col("__r"), s * dsub + 1, dsub)
      val entries = cbs(s).sortBy(_._2).map { case (_, cid, cv) =>
        struct(l2sq(sv, lit(cv)).as("d"), lit(cid).as("c"))
      }
      (if (entries.size == 1) entries.head
       else least(entries: _*)).getField("c")
    }: _*)
    withCell.select(col(idCol), col("cell"), codes.as("codes"))
  }

  /** Lloyd refinement per subspace: `iters` rounds of (encode) →
    * (replace each codebook entry with the element-wise mean of its
    * assigned subvectors). Empty entries keep their previous value.
    * Means are id-keyed [[OrderedFold.sum]]s (the `Knn.ivfRefine`
    * contract) and stay in double — no float roundtrip. Each round
    * shuffles by (sub, cid, pos) then (sub, cid) — bounded key spaces.
    */
  def pqRefine(embs: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, "pqRefine: iters must be non-negative")
    var cb = codebooks
    for (_ <- 1 to iters) {
      val assigned = subCodes(embs, idCol, vecCol, cb)
      val e = embs.where(col(vecCol).isNotNull)
        .select(col(idCol), col(vecCol).as("__v"))
      val dsub = size(col("__v")).divide(
        cb.select(max(col("sub"))).head().getInt(0) + 1).cast("int")
      val comp = e.join(assigned, idCol)
        .select(col(idCol).as("__id"), col("sub"), col("code"),
          posexplode_outer(transform(
            slice(col("__v"), col("sub") * dsub + 1, dsub),
            x => x.cast("double"))).as(Seq("pos", "x")))
        .filter(col("x").isNotNull)
      val means = comp
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg((OrderedFold.sum(col("x"), col("__id")) / count(lit(1)))
          .as("m"))
        .select(col("sub"), col("code").as("cid"), col("pos"), col("m"))
        .groupBy(col("sub"), col("cid"))
        .agg(OrderedFold.values(col("m"), col("pos")).as("__mvec"))
      // release only checkpoints created inside this call — iteration
      // 1's `prev` is the caller's codebook, possibly a live checkpoint
      // from a previous refine (the ivfRefine contract)
      val prev = cb
      cb = cb.join(means, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("__mvec"), col("cvec")).as("cvec"))
        .localCheckpoint()
      if (prev ne codebooks) Knn.releaseCheckpoint(prev)
    }
    cb
  }

  /** ADC top-k: each query builds its m×ksub exact subspace distance
    * table (query subvector ↔ codebook entry), and every encoded
    * candidate is scored by m table lookups summed in subspace order.
    * `(query_id, rank, neighbor_id, adc)` with rank 1..k by
    * (distance, id). The distance-table side is |Q|·m·ksub rows —
    * broadcast; the scan side reads CODES only. Self-matches are kept
    * (callers filter); compose with `Knn.ivfAssign` cells to bound the
    * candidate set at scale.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
             idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"pqTopK: k=$k")
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec"))
    val dsub = size(col("cvec"))
    val dt = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"),
        l2sq(transform(slice(col("__q"), col("sub") * dsub + 1, dsub),
          x => x.cast("double")), col("cvec")).as("__d2"))
    val contrib = codes
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    val scored = contrib
      .join(broadcast(dt), Seq("sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(OrderedFold.sum(col("__d2"), col("sub")).as("adc"))
    rankAdc(scored, k)
  }

  private def rankAdc(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    scored
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc"))
  }

  /** IVFADC (Jégou et al. 2011 §III): the coarse IVF quantizer bounds the
    * candidate set, then PQ asymmetric distance ranks candidates in the
    * compressed domain — the composition a production-scale ANN
    * deployment actually runs. Each query probes its `nprobe` nearest
    * centroid cells ([[Knn.probeCells]] — cosine coarse metric, the
    * repo's IVF convention; L2-normalize embeddings upstream when the
    * fine L2 order must agree) and only vectors assigned to those cells
    * are ADC-scored.
    *
    * Scale shape: centroids and codebooks are model-sized broadcasts,
    * but the ADC distance table is |queries|·m·ksub rows — QUERY-BATCH
    * sized, not model sized (same bound as [[pqTopK]]); a large query
    * batch must be chunked by the caller or the broadcast outgrows the
    * threshold/driver heap. The corpus contributes one map-side-argmax
    * assignment pass and one codes-only scan — no stored float vector
    * is read at query time.
    * Candidate volume is bounded by probed-cell sizes (the `nprobe` /
    * cell-count knobs), never |corpus|·|queries|. The per-candidate join
    * key carries `query_id`, so a hot cell fans out by queries and AQE
    * can split it.
    */
  def ivfPqTopK(embs: DataFrame, queries: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, idCol: String, vecCol: String,
                k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"ivfPqTopK: k=$k nprobe=$nprobe")
    val codes = pqEncode(embs, idCol, vecCol, codebooks)
    val assigned = Knn.ivfAssign(embs, idCol, vecCol, centroids)
    val cand = Knn.probeCells(queries, centroids, idCol, vecCol, nprobe)
      .join(assigned, "cid")
      .select(col("query_id"), col(idCol).as("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec"))
    val dsub = size(col("cvec"))
    val dt = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"),
        l2sq(transform(slice(col("__q"), col("sub") * dsub + 1, dsub),
          x => x.cast("double")), col("cvec")).as("__d2"))
    val scored = cand
      .join(codes.select(col(idCol).as("neighbor_id"), col("codes")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(dt), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(OrderedFold.sum(col("__d2"), col("sub")).as("adc"))
    rankAdc(scored, k)
  }

  /** [[ivfPqTopK]] at SEVERAL probe widths in one pass — the tuning-sweep
    * shape: cells are probed once at `max(nprobes)` with each cell's
    * probe rank carried ([[Knn.probeCellsRanked]]), ADC scores compute
    * ONCE per (query, candidate), and each width re-ranks its
    * `probe_rank <= width` subset. N widths cost one index pass plus N
    * result-set-sized rank windows instead of N full searches. Output
    * prepends `nprobe` to the [[ivfPqTopK]] schema; per width the rows
    * are EXACTLY `ivfPqTopK(..., nprobe = width)`'s (same ADC doubles —
    * the subspace-ordered fold is width-independent — and the same
    * deterministic ties).
    */
  def ivfPqTopKSweep(embs: DataFrame, queries: DataFrame,
                     centroids: DataFrame, codebooks: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nprobes: Seq[Int]): DataFrame = {
    require(k >= 1 && nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"ivfPqTopKSweep: k=$k nprobes=$nprobes")
    // a repeated width would land every candidate in its window
    // partition TWICE (duplicate ranks, corrupted top-k) — fail fast
    require(nprobes.distinct.size == nprobes.size,
      s"ivfPqTopKSweep: duplicate widths in nprobes=$nprobes")
    val codes = pqEncode(embs, idCol, vecCol, codebooks)
    val assigned = Knn.ivfAssign(embs, idCol, vecCol, centroids)
    val cand = Knn.probeCellsRanked(queries, centroids, idCol, vecCol,
      nprobes.max)
      .join(assigned, "cid")
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("probe_rank"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec"))
    val dsub = size(col("cvec"))
    val dt = queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .crossJoin(cb)
      .select(col("query_id"), col("sub"), col("cid"),
        l2sq(transform(slice(col("__q"), col("sub") * dsub + 1, dsub),
          x => x.cast("double")), col("cvec")).as("__d2"))
    // each neighbor lives in exactly one cell, so min(probe_rank) IS its
    // probe rank — the min only folds the m per-subspace copies
    val scored = cand
      .join(codes.select(col(idCol).as("neighbor_id"), col("codes")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(dt), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(OrderedFold.sum(col("__d2"), col("sub")).as("adc"),
        min(col("probe_rank")).as("__pr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    scored
      .select(col("*"),
        explode(array(nprobes.map(lit): _*)).as("nprobe"))
      .filter(col("__pr") <= col("nprobe"))
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        col("adc"), row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("rank"),
        col("neighbor_id"), col("adc"))
  }

  /** Per-(query, probed cell) RESIDUAL distance table: the query's
    * residual against each probed cell's centroid, scored against
    * every codebook entry — |Q|·(probe width)·m·ksub rows, broadcast
    * (the [[ivfPqTopK]] query-batch bound, times the probe width).
    */
  private def residualDistTable(queries: DataFrame, probed: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cb = codebooks.select(col("sub"), col("cid"), col("cvec"))
    val dsub = size(col("cvec"))
    queries.where(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), col(vecCol).as("__q"))
      .join(probed.select(col("query_id"), col("cell")).distinct(),
        Seq("query_id"))
      .join(broadcast(centroids.select(col("cid").as("cell"),
        col("cvec").as("__cent"))), Seq("cell"))
      .select(col("query_id"), col("cell"),
        zip_with(col("__q"), col("__cent"),
          (x, c) => x.cast("double") - c.cast("double")).as("__qr"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("cell"), col("sub"), col("cid"),
        l2sq(slice(col("__qr"), col("sub") * dsub + 1, dsub),
          col("cvec")).as("__d2"))
  }

  /** IVFADC with RESIDUAL encoding — the actual Jégou et al. 2011
    * §III-A composition: candidates come from the probed coarse cells,
    * and ADC runs in the residual domain (each query builds one
    * distance table PER PROBED CELL from `query − centroid(cell)`,
    * against codebooks trained on [[residuals]]). Same storage as
    * [[ivfPqTopK]] (m code bytes + a cell id per vector), materially
    * better recall at equal m/ksub because the codes only carry what
    * the coarse quantizer left unexplained.
    *
    * Scale shape: identical to [[ivfPqTopK]] except the broadcast
    * distance table is nprobe× larger (still query-batch sized) and
    * candidate generation is the codes table's own cell column — the
    * assignment pass is shared with encoding, not repeated.
    */
  def ivfPqTopKResidual(embs: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    require(k >= 1 && nprobe >= 1, s"ivfPqTopKResidual: k=$k nprobe=$nprobe")
    val codes = pqEncodeResidual(embs, idCol, vecCol, centroids, codebooks)
    val probed = Knn.probeCells(queries, centroids, idCol, vecCol, nprobe)
      .select(col("query_id"), col("cid").as("cell"))
    val dt = residualDistTable(queries, probed, centroids, codebooks,
      idCol, vecCol)
    val scored = probed
      .join(codes.select(col(idCol).as("neighbor_id"), col("cell"),
        col("codes")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(dt), Seq("query_id", "cell", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(OrderedFold.sum(col("__d2"), col("sub")).as("adc"))
    rankAdc(scored, k)
  }

  /** [[ivfPqTopKResidual]] at several probe widths in one pass — the
    * [[ivfPqTopKSweep]] tuning shape over the residual form: cells
    * probed once at `max(nprobes)`, residual ADC computed once per
    * (query, candidate), each width re-ranking its `probe_rank <=
    * width` subset. Output schema = [[ivfPqTopKSweep]]'s.
    */
  def ivfPqTopKSweepResidual(embs: DataFrame, queries: DataFrame,
      centroids: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nprobes: Seq[Int]): DataFrame = {
    require(k >= 1 && nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"ivfPqTopKSweepResidual: k=$k nprobes=$nprobes")
    require(nprobes.distinct.size == nprobes.size,
      s"ivfPqTopKSweepResidual: duplicate widths in nprobes=$nprobes")
    val codes = pqEncodeResidual(embs, idCol, vecCol, centroids, codebooks)
    val probed = Knn.probeCellsRanked(queries, centroids, idCol, vecCol,
      nprobes.max)
      .select(col("query_id"), col("cid").as("cell"), col("probe_rank"))
    val dt = residualDistTable(queries, probed, centroids, codebooks,
      idCol, vecCol)
    // each neighbor lives in exactly one cell, so min(probe_rank) IS
    // its probe rank — the min only folds the m per-subspace copies
    val scored = probed
      .join(codes.select(col(idCol).as("neighbor_id"), col("cell"),
        col("codes")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("cell"), col("neighbor_id"),
        col("probe_rank"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(dt), Seq("query_id", "cell", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(OrderedFold.sum(col("__d2"), col("sub")).as("adc"),
        min(col("probe_rank")).as("__pr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    scored
      .select(col("*"),
        explode(array(nprobes.map(lit): _*)).as("nprobe"))
      .filter(col("__pr") <= col("nprobe"))
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        col("adc"), row_number().over(w).as("rank"))
      .filter(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("rank"),
        col("neighbor_id"), col("adc"))
  }
}
