package graft

import org.apache.spark.sql.functions._

import graft.operators.{Federation, Retrieval}

/** [[graft.operators.Federation]] — CORI resource selection: the
  * belief arithmetic against a hand computation, the absent-term
  * prior, and the routing sanity (the shard holding the matching
  * docs ranks first).
  */
class FederationSpec extends SparkSpec {
  import spark.implicits._

  test("CORI beliefs match the hand-derived T·I decomposition") {
    // two shards: shard 0 = docs 1-2 (apple-heavy), shard 1 = docs
    // 3-4 (cherry-heavy); query "apple" must rank shard 0 first and
    // its scores must equal the formula computed by hand
    val c = Seq(
      (1L, "apple banana"), (2L, "apple fig"),
      (3L, "cherry date"), (4L, "cherry elder fig")).toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val shards = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))
      .toDF("docId", "shard")
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((9L, "apple")).toDF("query_id", "text")
    val got = Federation.coriShardScores(sdf, scw, qs,
      "query_id", "text").collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    // by hand: C = 2, cw0 = 4, cw1 = 5, avgcw = 4.5, cf(apple) = 1
    val i = math.log((2.0 + 0.5) / 1.0) / math.log(2.0 + 1.0)
    def t(df: Double, cw: Double) =
      df / (df + 50.0 + 150.0 * cw / 4.5)
    val p0 = 0.4 + 0.6 * t(2.0, 4.0) * i // apple in both shard-0 docs
    val p1 = 0.4 + 0.6 * t(0.0, 5.0) * i // absent -> the prior b
    assert(got(0L)._2 === 1L && got(1L)._2 === 2L)
    assert(math.abs(got(0L)._1 - p0) < 1e-12)
    assert(math.abs(got(1L)._1 - p1) < 1e-12)
    assert(p1 === 0.4) // T = 0 exactly at df = 0
  }

  test("compacted shard metadata equals the rebuild on the union") {
    val rnd = new scala.util.Random(215)
    def randDocs(ids: Range): Seq[(Long, String)] = ids.map { id =>
      id.toLong -> Seq.fill(4 + rnd.nextInt(4))(
        s"tok${10 / (rnd.nextInt(10) + 1)}").mkString(" ")
    }
    val base = randDocs(1 to 30).toDF("doc_id", "text")
    val batch = randDocs(31 to 45).toDF("doc_id", "text")
    val all = base.unionByName(batch)
    def shardsOf(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id").as("docId"),
        pmod(col("doc_id"), lit(3)).as("shard"))
    def stats(d: org.apache.spark.sql.DataFrame) = {
      val tf = Retrieval.termFrequencies(d, "doc_id", "text")
      (Federation.shardTermStats(tf, shardsOf(d)),
        Federation.shardSizes(tf, shardsOf(d)))
    }
    val (sdfB, scwB) = stats(base)
    val (sdfX, scwX) = stats(batch)
    val (sdfAll, scwAll) = stats(all)
    def dfRows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
    def cwRows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dfRows(Federation.compactShardTermStats(sdfB, sdfX)) ===
      dfRows(sdfAll))
    assert(cwRows(Federation.compactShardSizes(scwB, scwX)) ===
      cwRows(scwAll))
  }

  test("multi-term queries average beliefs; absent-everywhere terms drop") {
    val c = Seq(
      (1L, "apple banana"), (2L, "cherry banana"))
      .toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val shards = Seq((1L, 0L), (2L, 1L)).toDF("docId", "shard")
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    // "zzz" is in no shard: the mean is over {apple, banana} only
    val qs = Seq((9L, "apple banana zzz")).toDF("query_id", "text")
    val rows = Federation.coriShardScores(sdf, scw, qs,
      "query_id", "text").collect()
    assert(rows.length === 2)
    // both shards contain banana; only shard 0 has apple -> it wins
    val byShard = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byShard(0L) > byShard(1L))
    // scores live in (b, 1]-ish territory: mean of two beliefs >= b
    assert(byShard.values.forall(s => s >= 0.4 && s < 1.0))
  }

  test("federated top-k equals the unsharded ranking restricted to " +
    "probed pairs; all shards selected = the unsharded top-k") {
    val rnd = new scala.util.Random(237)
    val c = (1L to 90L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(5))(
        s"tok${18 / (rnd.nextInt(18) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "tok1 tok18"), (901L, "tok9 tok2"),
      (902L, "tok3")).toDF("query_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("queryId"), col("docId"), col("score"),
        col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq.sorted
    // every shard probed -> bitwise the unsharded top-k
    val unsharded = rows(Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 4))
    assert(rows(Federation.coriTopK(shardTf, sdf, scw, dfT, st, qs,
      "query_id", "text", k = 4, nProbe = 3)) === unsharded) // bitwise
    // nProbe < S -> bitwise the unsharded ranking RESTRICTED to the
    // selected (query, shard) pairs, from first principles
    for (np <- Seq(1, 2)) {
      val sel = Federation.coriShardScores(sdf, scw, qs,
        "query_id", "text").filter(col("rank") <= np)
        .select("queryId", "shard").localCheckpoint()
      val restricted = rows(Retrieval.bm25TopK(
        Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
          "query_id", "text")
          .join(shards, Seq("docId"))
          .join(sel, Seq("queryId", "shard"), "left_semi")
          .select("queryId", "docId", "score"), 4))
      assert(rows(Federation.coriTopK(shardTf, sdf, scw, dfT, st, qs,
        "query_id", "text", k = 4, nProbe = np)) === restricted,
        s"nProbe=$np") // bitwise
    }
  }

  test("federated WAND top-k is bitwise coriTopK at every nProbe, " +
    "with and without impact metadata, and the stats table routes") {
    val rnd = new scala.util.Random(248)
    val c = (1L to 90L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(5))(
        s"tok${18 / (rnd.nextInt(18) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "tok1 tok18"), (901L, "tok9 tok2"),
      (902L, "tok3"), (903L, "tok2 tok18")).toDF("query_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("queryId"), col("docId"), col("score"),
        col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq.sorted
    // the hot cut splits the 18/k vocab at its natural df gap:
    // tok18/tok9/tok6/tok4 (one k each, df ~30) stay rare, the
    // head (tok3/tok2/tok1 — 2, 3, and 9 k-values, df 50+) goes hot;
    // q902 is all-hot (no candidates -> must fall back), the others
    // pair a rare discriminator with a near-zero-idf hot term whose
    // impact ceiling sits under theta
    val hotCut = 40L
    val imp = Retrieval.impactStats(tf).localCheckpoint()
    for (np <- Seq(1, 2, 3); im <- Seq(None, Some(imp))) {
      val unpruned = rows(Federation.coriTopK(shardTf, sdf, scw, dfT,
        st, qs, "query_id", "text", k = 4, nProbe = np))
      assert(rows(Federation.coriTopKWand(shardTf, sdf, scw, dfT, st,
        qs, "query_id", "text", k = 4, nProbe = np, hotDf = hotCut,
        impact = im)) === unpruned,
        s"nProbe=$np impact=${im.isDefined}") // bitwise
    }
    // the decision table carries both routes (safe queries actually
    // skip hot postings; unsafe ones actually fall back) — a
    // degenerate all-one-way table would make the bitwise assert
    // vacuous on one branch
    val stats = Federation.coriWandStats(shardTf, sdf, scw, dfT, st,
      qs, "query_id", "text", k = 4, nProbe = 2, hotDf = hotCut,
      impact = Some(imp)).select("safe").collect().map(_.getBoolean(0))
    assert(stats.length === 4)
    assert(stats.exists(identity) && stats.exists(!_),
      s"want both routes exercised: ${stats.mkString(",")}")
  }

  test("federated WAND rejects BM25 parameters that void its bound") {
    // with b > 1 or k1 < 0 the saturation ceiling idf·(k1+1) no longer
    // bounds a posting, so a safe routing could drop a true top-k row
    val c = Seq((1L, "tok1 tok2"), (2L, "tok2 tok3"), (3L, "tok1 tok3"))
      .toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(2)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "tok1 tok3")).toDF("query_id", "text")
    for ((k1, b25) <- Seq((1.2, 1.5), (-1.0, 0.75))) {
      intercept[IllegalArgumentException] {
        Federation.coriTopKWand(shardTf, sdf, scw, dfT, st, qs,
          "query_id", "text", k = 2, nProbe = 2, hotDf = 1L, k1 = k1,
          b25 = b25)
      }
      intercept[IllegalArgumentException] {
        Federation.coriWandStats(shardTf, sdf, scw, dfT, st, qs,
          "query_id", "text", k = 2, nProbe = 2, hotDf = 1L, k1 = k1,
          b25 = b25)
      }
    }
  }

  test("routed federated top-k serves the branch the corpus size " +
    "picks, and both branches answer bitwise") {
    val rnd = new scala.util.Random(251)
    val c = (1L to 90L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(5))(
        s"tok${18 / (rnd.nextInt(18) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "tok1 tok18"), (901L, "tok9 tok2"))
      .toDF("query_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("queryId"), col("docId"), col("score"),
        col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq.sorted
    val unpruned = rows(Federation.coriTopK(shardTf, sdf, scw, dfT,
      st, qs, "query_id", "text", k = 4, nProbe = 2))
    // 90 docs < the threshold -> the unpruned branch serves
    assert(rows(Federation.coriTopKRouted(shardTf, sdf, scw, dfT, st,
      qs, "query_id", "text", k = 4, nProbe = 2,
      minWandDocs = 20000L)) === unpruned)
    // threshold forced under |D| -> the WAND branch serves, and it
    // answers bitwise the same (hotDf pinned so the |D|/10 default
    // doesn't make every term rare on the toy vocab)
    assert(rows(Federation.coriTopKRouted(shardTf, sdf, scw, dfT, st,
      qs, "query_id", "text", k = 4, nProbe = 2,
      hotDf = Some(40L), minWandDocs = 1L,
      impact = Some(Retrieval.impactStats(tf)))) === unpruned)
  }

  test("selection quality: probing 1 of 3 shards keeps most of the " +
    "true top-k (the IrEval recall row)") {
    import graft.operators.IrEval
    val rnd = new scala.util.Random(238)
    // shard-skewed corpus: each query's matching docs cluster in one
    // shard, so CORI selection should route there and recall@k stays
    // high at nProbe = 1
    val c = (1L to 90L).map { id =>
      val shard = id % 3
      id -> Seq.fill(6)(
        s"s${shard}tok${10 / (rnd.nextInt(10) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val dfT = Retrieval.dfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "s0tok1 s0tok5"), (901L, "s1tok1 s1tok10"),
      (902L, "s2tok2 s2tok1")).toDF("query_id", "text")
    // qrels = the TRUE unsharded top-3
    val qrels = Retrieval.bm25TopK(
      Retrieval.bm25ScoresPrecomputed(tf, dfT, st, qs,
        "query_id", "text"), 3)
      .select(col("queryId"), col("docId"), lit(1.0).as("grade"))
      .localCheckpoint()
    val run = Federation.coriTopK(shardTf, sdf, scw, dfT, st, qs,
      "query_id", "text", k = 3, nProbe = 1)
      .select("queryId", "docId", "rank").localCheckpoint()
    val m = IrEval.meanRankingMetrics(
      IrEval.rankingMetrics(run, qrels, k = 3)).collect()(0)
    val recall = m.getDouble(m.fieldIndex("mean_recall_at_k"))
    assert(recall === 1.0,
      s"shard-clustered queries must route cleanly: recall=$recall")
  }

  test("federated QL top-k equals the unsharded QL ranking restricted " +
    "to probed pairs; all shards = the unsharded top-k") {
    val rnd = new scala.util.Random(242)
    val c = (1L to 90L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(5))(
        s"tok${18 / (rnd.nextInt(18) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val cfT = Retrieval.cfTable(tf).localCheckpoint()
    val st = Retrieval.corpusStats(tf).localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val shardTf = tf.join(shards, Seq("docId"))
      .select(col("shard"), col("docId"), col("dl"), col("word"),
        col("tf")).localCheckpoint()
    val sdf = Federation.shardTermStats(tf, shards).localCheckpoint()
    val scw = Federation.shardSizes(tf, shards).localCheckpoint()
    val qs = Seq((900L, "tok1 tok18"), (901L, "tok9 tok2"),
      (902L, "tok3")).toDF("query_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("queryId"), col("docId"), col("score"),
        col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq.sorted
    val unsharded = rows(Retrieval.bm25TopK(
      Retrieval.qlDirichletScores(tf, cfT, st, qs,
        "query_id", "text"), 4))
    assert(rows(Federation.coriTopKQl(shardTf, sdf, scw, cfT, st, qs,
      "query_id", "text", k = 4, nProbe = 3)) === unsharded) // bitwise
    for (np <- Seq(1, 2)) {
      val sel = Federation.coriShardScores(sdf, scw, qs,
        "query_id", "text").filter(col("rank") <= np)
        .select("queryId", "shard").localCheckpoint()
      val restricted = rows(Retrieval.bm25TopK(
        Retrieval.qlDirichletScores(tf, cfT, st, qs,
          "query_id", "text")
          .join(shards, Seq("docId"))
          .join(sel, Seq("queryId", "shard"), "left_semi")
          .select("queryId", "docId", "score"), 4))
      assert(rows(Federation.coriTopKQl(shardTf, sdf, scw, cfT, st, qs,
        "query_id", "text", k = 4, nProbe = np)) === restricted,
        s"nProbe=$np") // bitwise
    }
  }

  test("deleted shard metadata equals the rebuild on the survivors") {
    val rnd = new scala.util.Random(243)
    val c = (1L to 60L).map { id =>
      id -> Seq.fill(4 + rnd.nextInt(5))(
        s"tok${12 / (rnd.nextInt(12) + 1)}").mkString(" ")
    }.toDF("doc_id", "text")
    val tf = Retrieval.termFrequencies(c, "doc_id", "text")
      .localCheckpoint()
    val shards = c.select(col("doc_id").as("docId"),
      pmod(col("doc_id"), lit(3)).as("shard"))
    val del = ((1L to 60L by 4) :+ 2L).toDF("docId")
    val sdfM = Federation.compactShardTermStatsDeleted(
      Federation.shardTermStats(tf, shards), tf, shards, del)
    val scwM = Federation.compactShardSizesDeleted(
      Federation.shardSizes(tf, shards), tf, shards, del)
    val tfS = tf.join(del, Seq("docId"), "left_anti")
      .localCheckpoint()
    def rows3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2))).toSet
    def rows2(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows3(sdfM) === rows3(Federation.shardTermStats(tfS, shards)))
    assert(rows2(scwM) === rows2(Federation.shardSizes(tfS, shards)))
    // ...and a whole shard leaving drops from the size table
    val allShard0 = c.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").as("docId"))
    val scwGone = Federation.compactShardSizesDeleted(
      Federation.shardSizes(tf, shards), tf, shards, allShard0)
    assert(!rows2(scwGone).exists(_._1 == 0L))
  }
}
