package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window

import graft.functions.{GraftFunctions, HashFunctions, TextAnalysis, TextFunctions}
import graft.operators.{Bpe, CountMin, Decontaminate, Dedup, Jaccard, Kmv, Knn, Pca, Pq, QualityLr, Scrub, TemporalJoins}
import graft.QShared._

/** Similarity search and on-engine model training: brute/lsh/ivf/pq/ivfadc k-nn, pca, logistic regression (quality + trained language id), centroid/vote classification, and the native vector-kernel sql surface — one registry slice of [[SparkEntry]]
  * (queries and their DuckDB oracles; see SparkEntry for the
  * hash-parity conventions every entry follows).
  */
private[graft] object AnnQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- similarity search (ANN)
    "q40_knn_brute" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      Knn.bruteForceTopK(embs, embs.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // dim=64 is the embeddings fixture's (uniform) vector length — passing
    // it skips the one-row probe job the operator otherwise runs
    "q41_lsh_buckets" -> ((s, dir) => {
      Knn.lshBuckets(t(s, dir, "embeddings"), "vec_id", "embedding",
        tables = 2, planes = 4, dim = 64)
        .select(col("vec_id"), col("htable").cast("long").as("htable"),
          col("bucket"))
        .orderBy("vec_id", "htable")
    }),
    "q42_knn_lsh" -> ((s, dir) => {
      Knn.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, tables = 2, planes = 4, dim = 64)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF coarse index: nearest-centroid cell per vector (seed centroids
    // = the 16 lowest-id vectors; see Knn.ivfSeedCentroids)
    // centroid seeds use the SAME `vec_id < 16` predicate as the oracle
    // SQL (not ivfSeedCentroids' lowest-k, which only coincides while
    // fixture ids are contiguous from 0) — the gate must not depend on
    // that fixture accident
    "q43_ivf_assign" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Knn.ivfAssign(embs, "vec_id", "embedding", cents)
        .orderBy("vec_id")
    }),
    "q44_knn_ivf" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Knn.ivfTopK(embs, embs.filter(col("vec_id") < 20), cents,
        "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // q43's assignment after ONE Lloyd iteration: seeds → assign →
    // ordered-fold element-wise means (bit-reproducible, see
    // Knn.ivfRefine) → reassign with the refined centroids. Gates the
    // whole refine step — means, empty-cell fallback, and the final
    // assignment — against the op-for-op SQL reproduction
    "q67_ivf_refined_assign" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val refined = Knn.ivfRefine(embs, "vec_id", "embedding", cents,
        iters = 1)
      Knn.ivfAssign(embs, "vec_id", "embedding", refined)
        .orderBy("vec_id")
    }),
    // the full ANN search over REFINED centroids: ivfRefine → ivfTopK —
    // q44's search with the better quantizer, proving the refine output
    // drops into the probe/re-rank path end to end
    "q74_knn_ivf_refined" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val seeds = embs.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val refined = Knn.ivfRefine(embs, "vec_id", "embedding", seeds,
        iters = 1)
      Knn.ivfTopK(embs, embs.filter(col("vec_id") < 20), refined,
        "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),
    // recall@5 of the q42 LSH index against q40's brute-force ground
    // truth on the 20 probe queries — "measure, don't guess" for the
    // approximate paths (the filter on query_id pushes through the
    // rank window's partition key, so only probe partitions rank)
    "q94_ann_recall" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val exact = Knn.bruteForceTopK(embs, embs.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      val approx = Knn.lshTopK(embs, "vec_id", "embedding", k = 5,
        tables = 2, planes = 4, dim = 64)
        .filter(col("query_id") < 20)
      Knn.recallAtK(approx, exact)
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          round(col("recall"), 6).as("recall"))
        .orderBy("query_id")
    }),
    // the d×d covariance of the embedding table in one distributed pass
    // — the corpus-scale half of PCA (the eigensolve is driver-sized);
    // bit-exact fold form for the oracle, plain-sum form at scale
    "q110_pca_covariance" -> ((s, dir) => {
      Pca.covariance(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("i", "j")
    }),
    // the projection half of PCA, gated against a FIXTURE component
    // table whose entries are exact binary doubles (n/32) shared
    // verbatim with the oracle — the broadcast-literal q116 pattern.
    // The Jacobi eigensolve is driver-sized and not SQL-expressible;
    // the composed principalComponents→project path (orthonormality,
    // eigen-residual, known eigensystems) is PcaSpec's job
    "q111_pca_project" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val comps = s.createDataFrame(PcaFixtureBases)
        .toDF("component", "basis", "offset")
      Pca.project(embs, "vec_id", "embedding", comps)
        .select(col("vec_id"),
          round(element_at(col("proj"), 1), 6).as("p0"),
          round(element_at(col("proj"), 2), 6).as("p1"),
          round(element_at(col("proj"), 3), 6).as("p2"),
          round(element_at(col("proj"), 4), 6).as("p3"))
        .orderBy("vec_id")
    }),
    // quality-classifier gradient at w=0 (p ≡ 0.5 exactly): the one
    // value-gated distributed pass every training iteration repeats —
    // per-bucket doc-id-ordered folds of x·(p−y)
    "q112_lr_gradient" -> ((s, dir) => {
      val feats = QualityLr.hashedFeatures(t(s, dir, "documents"),
        "doc_id", "text", col("source") === lit("src0"), dim = 64)
      QualityLr.gradient(feats,
        QualityLr.LrModel(Array.fill(64)(0.0), 0.0))
        .select(col("j"), round(col("grad"), 6).as("grad"))
        .orderBy("j")
    }),
    // full curated-vs-crawl training chain (2 GD iterations, lr=0.5,
    // 64 hashed buckets) + scoring pass — the oracle re-derives the
    // SAME chain in SQL (weights and all), so the gate proves the
    // trained model bit-for-bit, not just the plumbing
    "q113_lr_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = QualityLr.train(docs, "doc_id", "text",
        col("source") === lit("src0"), dim = 64, iters = 2, lr = 0.5)
      QualityLr.scores(docs, "doc_id", "text", m)
        .select(col("doc_id"), round(col("prob"), 6).as("prob"))
        .orderBy("doc_id")
    }),
    // PQ encoding under deterministic seed codebooks (m=8 subspaces ×
    // 16 entries): the 32×-compressed index ADC scans read
    "q115_pq_codes" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cb = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
        m = 8, ksub = 16)
      Pq.pqEncode(embs, "vec_id", "embedding", cb)
        .select(col("vec_id"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes"))
        .orderBy("vec_id")
    }),
    // ADC top-5 for the probe set: per-query m×ksub distance table,
    // candidates scored by table lookups over CODES only
    "q116_pq_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cb = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
        m = 8, ksub = 16)
      val codes = Pq.pqEncode(embs, "vec_id", "embedding", cb)
      Pq.pqTopK(codes, embs.filter(col("vec_id") < 20), cb,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }),
    // one per-subspace Lloyd round over the seed codebooks, then
    // re-encode — the composed refinement path (the q67→q74 pattern)
    "q117_pq_refined_codes" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cb0 = Pq.pqSeedCodebooks(embs, "vec_id", "embedding",
        m = 8, ksub = 16)
      val cb1 = Pq.pqRefine(embs, "vec_id", "embedding", cb0, iters = 1)
      Pq.pqEncode(embs, "vec_id", "embedding", cb1)
        .select(col("vec_id"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes"))
        .orderBy("vec_id")
    }),
    // the streaming index-maintenance seam in batch: the LITERAL-model
    // residual encoder (pure projection — the form a stream runs at
    // ingest) must produce exactly the q119-family assignment + codes,
    // so stream-encoded rows union into the same searchable table the
    // offline build writes
    "q167_streaming_pq_encode" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val (cents, cb, _) = ivfAdcIndex(embs)
      Pq.pqEncodeResidualLit(embs, "vec_id", "embedding", cents, cb)
        .select(col("vec_id"), col("cell"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes"))
        .orderBy("vec_id")
    }),

    // IVFADC with RESIDUAL encoding (Jégou §III-A) — the q44 coarse
    // quantizer (16 low-id centroids, nprobe=2) fronting residual-domain
    // ADC: codes quantize x − centroid(cell), queries build one distance
    // table PER PROBED CELL from their own residual. Same storage as
    // raw-vector PQ, better recall at equal m/ksub — the production
    // composition the paper actually describes
    "q119_ivf_pq_topk" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val (cents, cb, queries) = ivfAdcIndex(embs)
      Pq.ivfPqTopKResidual(embs, queries, cents, cb,
        "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc"), 6).as("adc"))
        .orderBy("query_id", "rank")
    }),

    // recall@5 of the IVFADC compressed search against the exact
    // brute-force cosine top-5 — the evaluation loop that tunes nprobe
    // on the production ANN stack (q94's readout over q119's index)
    "q128_ivfadc_recall" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val (cents, cb, queries) = ivfAdcIndex(embs)
      val approx = Pq.ivfPqTopKResidual(embs, queries, cents, cb,
        "vec_id", "embedding", k = 5, nprobe = 2)
      val exact = Knn.bruteForceTopK(embs, queries,
        "vec_id", "embedding", k = 5)
      Knn.recallAtK(approx, exact)
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          round(col("recall"), 6).as("recall"))
        .orderBy("query_id")
    }),
    // q41's bucket table through SQL text: the driver-computed
    // hyperplanes ride as CAST('<Double.toString>' AS DOUBLE) literals
    // (guaranteed round-trip), so the SQL path buckets bit-identically
    // to the typed-literal Column path
    "q131_sql_native_srp" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        s"""SELECT vec_id, CAST(htable AS BIGINT) AS htable, bucket FROM (
           |  SELECT vec_id, 0 AS htable,
           |    graft_srp_bucket(embedding, ${srpPlanesSql(0, 4, 64)}) AS bucket
           |  FROM embeddings_v WHERE embedding IS NOT NULL
           |  UNION ALL
           |  SELECT vec_id, 1 AS htable,
           |    graft_srp_bucket(embedding, ${srpPlanesSql(1, 4, 64)}) AS bucket
           |  FROM embeddings_v WHERE embedding IS NOT NULL)
           |ORDER BY vec_id, htable""".stripMargin)
    }),
    // q40's exact top-k through SQL text: per-VECTOR norms in the CTEs
    // (n norm scans, not 2P), broadcast-hinted small query side, native
    // graft_dot_f32 as the only per-pair work
    "q132_sql_native_dot" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """WITH q AS (
          |  SELECT vec_id AS query_id, embedding AS qv,
          |    sqrt(graft_dot_f32(embedding, embedding)) AS qn
          |  FROM embeddings_v WHERE vec_id < 20),
          |c AS (
          |  SELECT vec_id AS neighbor_id, embedding AS cv,
          |    sqrt(graft_dot_f32(embedding, embedding)) AS cn
          |  FROM embeddings_v),
          |scored AS (
          |  SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
          |    graft_dot_f32(qv, cv) / (qn * cn) AS cosine
          |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
          |ranked AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)
    }),

    // the nprobe tuning curve on q128's fixture: micro-averaged recall@5
    // at nprobe ∈ {1,2,4,8}, against BOTH ground truths — exact L2
    // (what ADC approximates) and exact cosine (the repo's q128
    // convention). Splitting the two separates quantization/probe error
    // from metric mismatch. Measured at sf0.01 the two recalls are
    // IDENTICAL (near-uniform norms → coincident rankings) and both
    // FALL as probes widen — with untrained seed codebooks on
    // distance-concentrated uniform vectors, ADC noise swamps the true
    // distance spread, so the wider pool only admits imposters (see the
    // ScaleBench sweep: one Lloyd round lifts every level but the shape
    // persists; a clustered corpus is what inverts it).
    "q135_nprobe_recall_curve" -> ((s, dir) => {
      import s.implicits._
      val embs = t(s, dir, "embeddings")
      val (cents, cb, queries) = ivfAdcIndex(embs)
      // ONE sweep pass: cells probed once at the widest setting,
      // residual-domain ADC computed once per candidate, each width
      // re-ranks its probe_rank<=width subset — N widths never cost N
      // full searches
      val sweep = Pq.ivfPqTopKSweepResidual(embs, queries, cents, cb,
        "vec_id", "embedding", k = 5, nprobes = Seq(1, 2, 4, 8))
        .select(col("nprobe"), col("query_id"), col("neighbor_id"))
      val exactCos = Knn.bruteForceTopK(embs, queries,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val exactL2 = Knn.bruteForceTopKL2(embs, queries,
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      def hits(exact: DataFrame, as: String) = sweep
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("nprobe")).agg(count(lit(1)).as(as))
      val totals = broadcast(exactCos
        .agg(count(lit(1)).as("n_exact"),
          countDistinct(col("query_id")).as("n_queries")))
      // left join from the width list: a width with zero hits keeps its
      // row (coalesce 0) instead of vanishing from the curve
      Seq(1, 2, 4, 8).toDF("nprobe")
        .join(hits(exactL2, "n_hit_l2"), Seq("nprobe"), "left")
        .join(hits(exactCos, "n_hit_cos"), Seq("nprobe"), "left")
        .crossJoin(totals)
        .select(col("nprobe").cast("long").as("nprobe"),
          col("n_queries"),
          coalesce(col("n_hit_l2"), lit(0L)).as("n_hit_l2"),
          coalesce(col("n_hit_cos"), lit(0L)).as("n_hit_cos"),
          col("n_exact"),
          round(coalesce(col("n_hit_l2"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall_l2"),
          round(coalesce(col("n_hit_cos"), lit(0L)).cast("double")
            / col("n_exact"), 6).as("recall_cos"))
        .orderBy("nprobe")
    }),

    // k-NN majority-vote label prediction on the probe set: the vote
    // composes with ANY neighbor frame (here exact top-5; swap in
    // lshTopK/ivfPqTopK unchanged) — label propagation for an
    // embedding-curated corpus
    "q136_knn_label_vote" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val topk = Knn.bruteForceTopK(embs, embs.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      graft.operators.Classify.classifyByVote(topk, embs, "vec_id", "label")
        .select(col("query_id"),
          col("pred_label").cast("long").as("pred_label"),
          col("n_votes"), col("n_neighbors"))
        .orderBy("query_id")
    }),
    // Rocchio nearest-centroid prediction: the |labels|×d model builds
    // in one pass (bit-exact blocked fold, the q110 contract) and
    // broadcasts; per-row work is |labels| dot products
    "q137_centroid_classify" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = graft.operators.Classify.labelCentroids(
        embs, "vec_id", "embedding", "label")
      graft.operators.Classify.centroidTopLabel(
        embs.filter(col("vec_id") < 20), "vec_id", "embedding",
        cents, "label")
        .select(col("query_id"),
          col("pred_label").cast("long").as("pred_label"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id")
    }),
    // the mixed-type dot kernel through SQL text: q132's query with
    // graft_dot in place of graft_dot_f32 — float×float through the
    // mixed kernel is value-identical to the f32 kernel, so the same
    // oracle gates both registry paths
    "q139_sql_native_dot_mixed" -> ((s, dir) => {
      GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql(
        """WITH q AS (
          |  SELECT vec_id AS query_id, embedding AS qv,
          |    sqrt(graft_dot(embedding, embedding)) AS qn
          |  FROM embeddings_v WHERE vec_id < 20),
          |c AS (
          |  SELECT vec_id AS neighbor_id, embedding AS cv,
          |    sqrt(graft_dot(embedding, embedding)) AS cn
          |  FROM embeddings_v),
          |scored AS (
          |  SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
          |    graft_dot(qv, cv) / (qn * cn) AS cosine
          |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
          |ranked AS (
          |  SELECT query_id, neighbor_id, cosine,
          |    CAST(row_number() OVER (PARTITION BY query_id
          |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
          |  FROM scored)
          |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
          |FROM ranked WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin)
    }),

    // TRAINED same-script language ID: two Romance-like languages in
    // one script, sharing words a stopword lexicon would key on
    // ('casa', 'ladra', 'agua' appear in BOTH) — separable only by
    // character-transition statistics. Hashed char-3-gram features
    // through the q113 LR trainer; the oracle replays construction,
    // training, and scoring bit-exactly (the q112/q113 fold contract)
    "q166_langid_trained" -> ((s, dir) => {
      GraftFunctions.register(s)
      val vocabA = Seq("la", "casa", "roja", "el", "perro", "ladra",
        "mucho", "agua")
      val vocabB = Seq("a", "casa", "vermelha", "o", "cachorro", "ladra",
        "muito", "agua")
      val words = (0 until 8).map { i =>
        val idx = pmod(col("doc_id") * 7 + lit(i * 3), lit(8))
          .cast("int") + 1
        when(col("doc_id") % 2 === 0, element_at(typedlit(vocabA), idx))
          .otherwise(element_at(typedlit(vocabB), idx))
      }
      val docs = t(s, dir, "documents").where(col("doc_id").isNotNull)
        .select(col("doc_id"), concat_ws(" ", words: _*).as("text"))
      val tok = QualityLr.charNgramTokens(3)
      val m = QualityLr.train(docs, "doc_id", "text",
        col("doc_id") % 2 === 0, dim = 64, iters = 2, lr = 0.5,
        tokenize = tok)
      QualityLr.scores(docs, "doc_id", "text", m, tokenize = tok)
        .select(col("doc_id"), round(col("prob"), 6).as("prob"),
          when(col("prob") >= 0.5, lit("es")).otherwise(lit("pt"))
            .as("lang_pred"))
        .orderBy("doc_id")
    }),

    // the same prediction through the LITERAL-model projection (no
    // join, no window — the streaming-legal form); gated by the SAME
    // oracle as q137, proving the two formulations identical
    "q138_centroid_classify_lit" -> ((s, dir) => {
      val embs = t(s, dir, "embeddings")
      val cents = graft.operators.Classify.labelCentroids(
        embs, "vec_id", "embedding", "label")
      graft.operators.Classify.centroidTopLabelLit(
        embs.filter(col("vec_id") < 20), "vec_id", "embedding",
        cents, "label")
        .select(col("query_id"),
          col("pred_label").cast("long").as("pred_label"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // ---- ANN oracles
    "q40_knn_brute" -> KnnBruteOracle,
    "q132_sql_native_dot" -> KnnBruteOracle,
    "q139_sql_native_dot_mixed" -> KnnBruteOracle,
    "q41_lsh_buckets" -> SrpBucketsOracle,
    "q131_sql_native_srp" -> SrpBucketsOracle,
    "q42_knn_lsh" ->
      s"""WITH bkt AS (
         |  SELECT vec_id, 0 AS htable, ${duckBucket(0, 4, "embedding")} AS bucket
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, 1 AS htable, ${duckBucket(1, 4, "embedding")} AS bucket
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bkt a JOIN bkt b
         |    ON a.htable = b.htable AND a.bucket = b.bucket
         |    AND a.vec_id != b.vec_id),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    ${duckCos("qa.embedding", "qb.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qa ON cand.query_id = qa.vec_id
         |  JOIN embeddings qb ON cand.neighbor_id = qb.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    "q43_ivf_assign" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 16),
         |scored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cents c),
         |ranked AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cid) AS rn
         |  FROM scored)
         |SELECT vec_id, cid FROM ranked WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "q44_knn_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 16),
         |ascored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cid) AS rn
         |    FROM ascored) x WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id < 20),
         |probed AS (
         |  SELECT query_id, cid FROM (
         |    SELECT query_id, c.cid,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${duckCos("qv", "c.cvec")} DESC, c.cid) AS pr
         |    FROM q CROSS JOIN cents c) y WHERE pr <= 2),
         |cand AS (
         |  SELECT query_id, a.vec_id AS neighbor_id
         |  FROM probed p JOIN assigned a ON p.cid = a.cid
         |  WHERE query_id != a.vec_id),
         |rescored AS (
         |  SELECT query_id, neighbor_id,
         |    ${duckCos("qe.embedding", "ne.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qe ON cand.query_id = qe.vec_id
         |  JOIN embeddings ne ON cand.neighbor_id = ne.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // one Lloyd iteration op-for-op: assign with the seeds, per-(cell,
    // component) ORDERED left-fold mean over float→double casts (same
    // fold as Knn.ivfRefine — list_reduce seeds from the first element,
    // which equals a 0.0-seeded fold for IEEE addition), one
    // double→float rounding, empty cells keep their seed, reassign.
    // Fixture dim is 64 (as in q41's bucket oracle)
    "q67_ivf_refined_assign" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 16),
         |ascored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cid) AS rn
         |    FROM ascored) x WHERE rn = 1),
         |comp AS (
         |  SELECT a.cid, ii AS pos, e.vec_id,
         |    CAST(e.embedding[ii] AS DOUBLE) AS x
         |  FROM assigned a JOIN embeddings e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS ii) idx),
         |means AS (
         |  SELECT cid, pos,
         |    CAST(list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
         |      / count(*) AS FLOAT) AS m
         |  FROM comp GROUP BY cid, pos),
         |rcents AS (
         |  SELECT c.cid, coalesce(mv.cvec, c.cvec) AS cvec
         |  FROM cents c LEFT JOIN (
         |    SELECT cid, list(m ORDER BY pos) AS cvec
         |    FROM means GROUP BY cid) mv USING (cid)),
         |rescored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN rcents c)
         |SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, cid) AS rn
         |  FROM rescored) x WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    // q44's probe/re-rank tail over q67's refined centroids: the seed
    // assign → fold means → refined-cell assign, then each query probes
    // its 2 nearest refined cells and re-ranks exactly
    "q74_knn_ivf_refined" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 16),
         |ascored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN cents c),
         |assigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cid) AS rn
         |    FROM ascored) x WHERE rn = 1),
         |comp AS (
         |  SELECT a.cid, ii AS pos, e.vec_id,
         |    CAST(e.embedding[ii] AS DOUBLE) AS x
         |  FROM assigned a JOIN embeddings e USING (vec_id)
         |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS ii) idx),
         |means AS (
         |  SELECT cid, pos,
         |    CAST(list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b)
         |      / count(*) AS FLOAT) AS m
         |  FROM comp GROUP BY cid, pos),
         |rcents AS (
         |  SELECT c.cid, coalesce(mv.cvec, c.cvec) AS cvec
         |  FROM cents c LEFT JOIN (
         |    SELECT cid, list(m ORDER BY pos) AS cvec
         |    FROM means GROUP BY cid) mv USING (cid)),
         |rascored AS (
         |  SELECT e.vec_id, c.cid,
         |    ${duckCos("e.embedding", "c.cvec")} AS cos
         |  FROM embeddings e CROSS JOIN rcents c),
         |rassigned AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY cos DESC, cid) AS rn
         |    FROM rascored) x WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv
         |      FROM embeddings WHERE vec_id < 20),
         |probed AS (
         |  SELECT query_id, cid FROM (
         |    SELECT query_id, c.cid,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY ${duckCos("qv", "c.cvec")} DESC, c.cid) AS pr
         |    FROM q CROSS JOIN rcents c) y WHERE pr <= 2),
         |cand AS (
         |  SELECT query_id, a.vec_id AS neighbor_id
         |  FROM probed p JOIN rassigned a ON p.cid = a.cid
         |  WHERE query_id != a.vec_id),
         |rescored AS (
         |  SELECT query_id, neighbor_id,
         |    ${duckCos("qe.embedding", "ne.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qe ON cand.query_id = qe.vec_id
         |  JOIN embeddings ne ON cand.neighbor_id = ne.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM rescored)
         |SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // q40's exact top-5 and q42's LSH top-5 (probes only), overlapped:
    // per-probe hit counts and recall. Candidate restriction to the
    // probes BEFORE ranking ≡ the Spark side's post-rank filter (rank
    // partitions by query)
    "q94_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |escored AS (
         |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cosine
         |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM escored) x WHERE rank <= 5),
         |bkt AS (
         |  SELECT vec_id, 0 AS htable, ${duckBucket(0, 4, "embedding")} AS bucket
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id, 1 AS htable, ${duckBucket(1, 4, "embedding")} AS bucket
         |  FROM embeddings),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bkt a JOIN bkt b
         |    ON a.htable = b.htable AND a.bucket = b.bucket
         |    AND a.vec_id != b.vec_id
         |  WHERE a.vec_id < 20),
         |ascored AS (
         |  SELECT query_id, neighbor_id,
         |    ${duckCos("qa.embedding", "qb.embedding")} AS cosine
         |  FROM cand
         |  JOIN embeddings qa ON cand.query_id = qa.vec_id
         |  JOIN embeddings qb ON cand.neighbor_id = qb.vec_id),
         |approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM ascored) y WHERE rank <= 5),
         |ecnt AS (SELECT query_id, count(*) AS n_exact
         |         FROM exact GROUP BY 1),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN approx a
         |    USING (query_id, neighbor_id)
         |  GROUP BY 1)
         |SELECT query_id, n_exact,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_exact, 6) AS recall
         |FROM ecnt LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // moments and means replay the blocked fold tree: per (vec_id % 32)
    // block in vec_id order, then across blocks in block order — the
    // exact accumulation tree blockedCovariance fixes by value, then
    // cov = E[xy] − E[x]E[y] with the exact Spark parenthesization.
    // `+ 0` after round: DuckDB's round keeps IEEE −0.0 where Spark's
    // (BigDecimal) returns +0.0, and the driver sorts rows by str(value)
    "q110_pca_covariance" ->
      s"""WITH x AS (
         |  SELECT vec_id, vec_id % 32 AS blk, CAST(i AS INT) - 1 AS i,
         |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS xi
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
         |  WHERE vec_id IS NOT NULL),
         |p AS (
         |  SELECT a.vec_id, a.blk, a.i AS i, b.i AS j, a.xi * b.xi AS prod
         |  FROM x a JOIN x b USING (vec_id)),
         |mo1 AS (
         |  SELECT blk, i, j,
         |    list_reduce(list(prod ORDER BY vec_id), (u, w) -> u + w) AS s
         |  FROM p GROUP BY blk, i, j),
         |mo AS (
         |  SELECT i, j,
         |    list_reduce(list(s ORDER BY blk), (u, w) -> u + w) AS s
         |  FROM mo1 GROUP BY i, j),
         |mu1 AS (
         |  SELECT blk, i,
         |    list_reduce(list(xi ORDER BY vec_id), (u, w) -> u + w) AS s
         |  FROM x GROUP BY blk, i),
         |mu AS (
         |  SELECT i,
         |    list_reduce(list(s ORDER BY blk), (u, w) -> u + w) AS s
         |  FROM mu1 GROUP BY i),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
         |       WHERE vec_id IS NOT NULL)
         |SELECT mo.i AS i, mo.j AS j,
         |  round(mo.s / n - (ma.s / n) * (mb.s / n), 6) + 0 AS cov
         |FROM mo JOIN mu ma ON ma.i = mo.i JOIN mu mb ON mb.i = mo.j
         |CROSS JOIN nn
         |ORDER BY i, j""".stripMargin,

    // Pca.project against the shared fixture basis: per (vector,
    // component) the centered coordinate is a left fold over the 64
    // exact products (list_prepend 0.0 + list_reduce ≡ Spark's
    // `aggregate` seed), so both engines compute bit-identical doubles
    // before the 6-dp round; `+ 0` normalizes −0.0 (the q112 note)
    "q111_pca_project" -> {
      val rows = PcaFixtureBases.map { case (k, basis, off) =>
        s"($k, [${basis.mkString(", ")}]::DOUBLE[], $off)"
      }
      s"""WITH comps AS (
         |  SELECT * FROM (VALUES
         |    ${rows.mkString(",\n    ")})
         |    AS t(component, basis, oset)),
         |proj AS (
         |  SELECT vec_id, component,
         |    list_reduce(list_prepend(0.0,
         |      [CAST(embedding[i] AS DOUBLE) * basis[i]
         |        FOR i IN generate_series(1, 64)]),
         |      (a, b) -> a + b) - oset AS coord
         |  FROM embeddings CROSS JOIN comps
         |  WHERE vec_id IS NOT NULL),
         |agg AS (
         |  SELECT vec_id, list(coord ORDER BY component) AS cs
         |  FROM proj GROUP BY vec_id)
         |SELECT vec_id,
         |  round(cs[1], 6) + 0 AS p0, round(cs[2], 6) + 0 AS p1,
         |  round(cs[3], 6) + 0 AS p2, round(cs[4], 6) + 0 AS p3
         |FROM agg ORDER BY vec_id""".stripMargin
    },

    // the training chain's first gradient pass (w=0 → p ≡ 0.5); `+ 0`
    // because gradients can round to −0.0 in DuckDB (+0.0 in Spark)
    "q112_lr_gradient" ->
      s"""WITH ${lrChainSql(64, 1, 0.5)}
         |SELECT j, round(g, 6) + 0 AS grad FROM g1 ORDER BY j"""
        .stripMargin,

    // the full 2-iteration training chain re-derived in SQL — the
    // trained weights must agree bit-for-bit for these to hash-match
    "q113_lr_scores" ->
      s"""WITH ${lrChainSql(64, 2, 0.5)}
         |SELECT doc_id, round(p, 6) AS prob FROM p3 ORDER BY doc_id"""
        .stripMargin,

    "q115_pq_codes" ->
      s"""WITH $PqBaseSql
         |SELECT vec_id,
         |  array_to_string(list(CAST(cid AS VARCHAR) ORDER BY sub), ',')
         |    AS codes
         |FROM best WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // ADC: the probe's distance-table rows ARE its dist rows (probes
    // are corpus members); candidate score folds in subspace order
    "q116_pq_topk" ->
      s"""WITH $PqBaseSql,
         |adc AS (
         |  SELECT d.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    list_reduce(list_prepend(0.0, list(d.d2 ORDER BY d.sub)),
         |      (u, v) -> u + v) AS adc
         |  FROM best b
         |  JOIN dist d ON d.sub = b.sub AND d.cid = b.cid
         |    AND d.vec_id < 20
         |  WHERE b.rn = 1
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY adc, neighbor_id) AS rank
         |  FROM adc)
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // one Lloyd round: id-ordered mean folds per (sub, entry, pos),
    // empty entries keep their seed vector, then re-encode under cb1
    "q117_pq_refined_codes" ->
      s"""WITH $PqBaseSql,
         |comp AS (
         |  SELECT b.vec_id, b.sub, b.cid AS code, t.p AS pos,
         |    CAST(e.embedding[b.sub*8+t.p] AS DOUBLE) AS x
         |  FROM best b JOIN emb e ON e.vec_id = b.vec_id,
         |    unnest(generate_series(1, 8)) t(p)
         |  WHERE b.rn = 1),
         |means AS (
         |  SELECT sub, code AS cid, pos,
         |    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)),
         |      (u, v) -> u + v) / count(*) AS mval
         |  FROM comp GROUP BY sub, code, pos),
         |cb1 AS (
         |  SELECT cb.sub, cb.cid,
         |    coalesce(mv.mvec, cb.cvec) AS cvec
         |  FROM cb LEFT JOIN (
         |    SELECT sub, cid, list(mval ORDER BY pos) AS mvec
         |    FROM means GROUP BY sub, cid) mv
         |    ON mv.sub = cb.sub AND mv.cid = cb.cid),
         |${pqDistSql("cb1", "1")}
         |SELECT vec_id,
         |  array_to_string(list(CAST(cid AS VARCHAR) ORDER BY sub), ',')
         |    AS codes
         |FROM best1 WHERE rn = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // the q119-family residual CTEs' assignment + codes, reformatted:
    // the literal-model projection must land on the identical cells
    // and code words
    "q167_streaming_pq_encode" ->
      s"""WITH $IvfAdcResidualBase
         |SELECT c.vec_id, a.ccid AS cell,
         |  array_to_string(list(CAST(c.cid AS VARCHAR) ORDER BY c.sub),
         |    ',') AS codes
         |FROM codes c JOIN assigned a USING (vec_id)
         |GROUP BY c.vec_id, a.ccid
         |ORDER BY vec_id""".stripMargin,

    // IVFADC: the q44 probe/assign CTEs bound the candidates, the q116
    // PQ machinery scores them — per-candidate ADC folds in subspace
    // order (the Spark side's bit-reproducible tree)
    "q119_ivf_pq_topk" ->
      s"""WITH $IvfAdcCtes
         |SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // recall@5 of the IVFADC compressed search against the exact
    // brute-force COSINE top-5 (the repo's ground-truth convention):
    // how much of the true neighborhood the coarse-probe + ADC stack
    // recovers — the number that tunes nprobe in production
    "q128_ivfadc_recall" ->
      s"""WITH $IvfAdcCtes,
         |approx AS (
         |  SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5),
         |ec2 AS (SELECT vec_id AS neighbor_id, embedding AS ecv
         |        FROM embeddings),
         |escored AS (
         |  SELECT query_id, neighbor_id, ${duckCos("qv", "ecv")} AS cosine
         |  FROM ec2 CROSS JOIN q WHERE query_id != neighbor_id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM escored) x WHERE rank <= 5),
         |ecnt AS (SELECT query_id, count(*) AS n_exact
         |         FROM exact GROUP BY 1),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hit
         |  FROM exact e JOIN approx a
         |    USING (query_id, neighbor_id)
         |  GROUP BY 1)
         |SELECT query_id, n_exact,
         |  CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
         |  round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_exact, 6) AS recall
         |FROM ecnt LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // the same LR training replay as q113, with the corpus head swapped
    // for the synthetic two-language fixture and char-3-gram windows
    // over the canonical text (q54's substr contract — the kernel
    // DISTINCTs windows, so each present n-gram contributes 1/len)
    "q166_langid_trained" ->
      s"""WITH ${lrChainSql(64, 2, 0.5,
             """lw AS (
               |  SELECT doc_id,
               |    CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y,
               |    list_distinct(list_transform(
               |      generate_series(1, greatest(1, length(c) - 2)),
               |      i -> substr(c, i, 3))) AS ws
               |  FROM (
               |    SELECT doc_id, array_to_string([
               |      CASE WHEN doc_id % 2 = 0
               |        THEN (['la','casa','roja','el','perro','ladra',
               |               'mucho','agua'])[(doc_id*7 + i*3) % 8 + 1]
               |        ELSE (['a','casa','vermelha','o','cachorro',
               |               'ladra','muito','agua'])[(doc_id*7 + i*3) % 8 + 1]
               |      END FOR i IN generate_series(0, 7)], ' ') AS c
               |    FROM documents WHERE doc_id IS NOT NULL))""".stripMargin)}
         |SELECT doc_id, round(p, 6) AS prob,
         |  CASE WHEN p >= 0.5 THEN 'es' ELSE 'pt' END AS lang_pred
         |FROM p3 ORDER BY doc_id""".stripMargin,

    // the q128 chain with the probe cutoff made a VARIABLE: every
    // candidate carries its centroid's probe rank, ADC distances are
    // computed once, and each nprobe level re-ranks the pr<=level
    // subset — exactly what Pq.ivfPqTopK(nprobe = p) produces per level
    "q135_nprobe_recall_curve" ->
      s"""WITH $IvfAdcResidualBase,
         |cand AS (
         |  SELECT query_id, a.vec_id AS neighbor_id, a.ccid, p.pr
         |  FROM probedr p JOIN assigned a ON p.ccid = a.ccid
         |  WHERE query_id != a.vec_id),
         |adc AS (
         |  SELECT cand.query_id, cand.neighbor_id, cand.pr,
         |    list_reduce(list_prepend(0.0, list(qd.d2 ORDER BY co.sub)),
         |      (u, v) -> u + v) AS adc
         |  FROM cand
         |  JOIN codes co ON co.vec_id = cand.neighbor_id
         |  JOIN qdist qd ON qd.query_id = cand.query_id
         |    AND qd.ccid = cand.ccid
         |    AND qd.sub = co.sub AND qd.cid = co.cid
         |  GROUP BY cand.query_id, cand.neighbor_id, cand.pr),
         |lv AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
         |lvl_ranked AS (
         |  SELECT l.nprobe, a.query_id, a.neighbor_id,
         |    row_number() OVER (PARTITION BY l.nprobe, a.query_id
         |      ORDER BY a.adc, a.neighbor_id) AS rank
         |  FROM lv l JOIN adc a ON a.pr <= l.nprobe),
         |approx AS (
         |  SELECT nprobe, query_id, neighbor_id
         |  FROM lvl_ranked WHERE rank <= 5),
         |ec2 AS (SELECT vec_id AS neighbor_id, embedding AS ecv
         |        FROM embeddings),
         |escored AS (
         |  SELECT query_id, neighbor_id, ${duckCos("qv", "ecv")} AS cosine,
         |    ${duckDot("qv", "qv")} + ${duckDot("ecv", "ecv")}
         |      - 2 * ${duckDot("qv", "ecv")} AS dist2
         |  FROM ec2 CROSS JOIN q WHERE query_id != neighbor_id),
         |exact_cos AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM escored) x WHERE rank <= 5),
         |exact_l2 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY dist2, neighbor_id) AS rank
         |    FROM escored) x WHERE rank <= 5),
         |percq_cos AS (
         |  SELECT l.nprobe, e.query_id, count(*) AS n_exact,
         |    sum(CASE WHEN a.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS n_hit
         |  FROM lv l CROSS JOIN exact_cos e
         |  LEFT JOIN approx a ON a.nprobe = l.nprobe
         |    AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2),
         |percq_l2 AS (
         |  SELECT l.nprobe, e.query_id,
         |    sum(CASE WHEN a.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS n_hit
         |  FROM lv l CROSS JOIN exact_l2 e
         |  LEFT JOIN approx a ON a.nprobe = l.nprobe
         |    AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY 1, 2),
         |agg_cos AS (
         |  SELECT nprobe, count(*) AS n_queries, sum(n_hit) AS n_hit_cos,
         |    sum(n_exact) AS n_exact
         |  FROM percq_cos GROUP BY nprobe),
         |agg_l2 AS (
         |  SELECT nprobe, sum(n_hit) AS n_hit_l2
         |  FROM percq_l2 GROUP BY nprobe)
         |SELECT CAST(c.nprobe AS BIGINT) AS nprobe,
         |  CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(n_hit_l2 AS BIGINT) AS n_hit_l2,
         |  CAST(n_hit_cos AS BIGINT) AS n_hit_cos,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  round(CAST(n_hit_l2 AS DOUBLE) / n_exact, 6) AS recall_l2,
         |  round(CAST(n_hit_cos AS DOUBLE) / n_exact, 6) AS recall_cos
         |FROM agg_cos c JOIN agg_l2 USING (nprobe)
         |ORDER BY nprobe""".stripMargin,

    // q40's exact top-5 feeding a per-query label vote; ties to the
    // smallest label, vote counts and totals as integers
    "q136_knn_label_vote" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, neighbor_id, ${duckCos("qv", "cv")} AS cosine
         |  FROM c CROSS JOIN q WHERE query_id != neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored),
         |votes AS (
         |  SELECT r.query_id, e.label AS lab, count(*) AS n_votes
         |  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
         |  WHERE r.rank <= 5 AND e.label IS NOT NULL
         |  GROUP BY 1, 2),
         |best AS (
         |  SELECT query_id, lab, n_votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY n_votes DESC, lab) AS rn,
         |    sum(n_votes) OVER (PARTITION BY query_id) AS n_neighbors
         |  FROM votes)
         |SELECT query_id, CAST(lab AS BIGINT) AS pred_label,
         |  CAST(n_votes AS BIGINT) AS n_votes,
         |  CAST(n_neighbors AS BIGINT) AS n_neighbors
         |FROM best WHERE rn = 1 ORDER BY query_id""".stripMargin,

    // the q110 blocked-fold contract per (label, dim): id-ordered folds
    // inside id%32 blocks, block sums fold in block order, mean = sum/n
    // per element — then cosine argmax against the broadcast model.
    // Shared by q137 (joined-frame argmax) and q138 (literal-model
    // `greatest` projection — the streaming-legal form): the two
    // formulations must predict identically, which sharing the oracle
    // proves.
    "q138_centroid_classify_lit" -> CentroidClassifyOracle,
    "q137_centroid_classify" -> CentroidClassifyOracle
  )
}
