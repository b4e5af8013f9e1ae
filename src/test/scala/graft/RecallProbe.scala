package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Dev tool: measure LSH recall of the embedding operators against their exact
  * equivalents at a given scale factor — used to size verify-scale table
  * budgets so the CORRECTNESS queries are exactly oracle-able (recall must be
  * total on the verify corpus; the LSH is seed-deterministic, so "empirically
  * total here" is stable across runs).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = LakeSession.create()
    val e = graft.sources.Lake.table(spark, sfDir, "embeddings")
    // RECALL_SECTIONS gates the embedding sections (the d06 exact all-pairs
    // oracle is quadratic — ~15 min at sf1), so a d03-only run stays cheap.
    val sections = sys.env.getOrElse("RECALL_SECTIONS", "s02,d06")
      .split(",").map(_.trim).toSet

    if (sections("s02")) {
    // s02 vs s01: rank-set agreement per table budget
    val exact = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    for ((planes, tables) <- Seq((1, 8), (1, 12), (2, 16), (2, 24), (3, 24), (3, 32))) {
      val lsh = Similarity.lshTopK(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, dim = 64,
        planesPerTable = planes, tables = tables)
        .select("query_id", "neighbor_id", "rank").collect().toSet
      println(s"[recall] s02 planes=$planes tables=$tables: " +
        s"${(exact intersect lsh).size}/${exact.size}" +
        (if (lsh == exact) "  EXACT" else ""))
    }
    }

    if (sections("d06")) {
    // d06 vs all-pairs cosine >= 0.45
    val n = e.select(col("vec_id").as("id"),
      graft.functions.VectorFunctions.l2normalize(col("embedding")).as("v"))
    val allPairs = n.as("a").join(n.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= 0.45)
    val exactPairs = allPairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // boundary safety: closest cosine to the 0.45 threshold on either side
    allPairs.select(min(col("cosine"))).show()
    // quantiles of the true-pair cosine distribution: per-table collision
    // probability is (1 - acos(cos)/pi)^planes, so recall under auto-planes
    // is driven by how much true-pair mass sits near the threshold
    allPairs.select(col("cosine")).stat
      .approxQuantile("cosine", Array(0.01, 0.05, 0.25, 0.5), 0.001)
      .zip(Seq("p01", "p05", "p25", "p50"))
      .foreach { case (v, q) => println(f"[recall] d06 true-pair cosine $q=$v%.4f") }
    // planesPerTable = 0 exercises the PRODUCTION auto-sizing path (d06 query
    // config), so these recalls are what the shipped config delivers at this n
    for (tables <- sys.env.get("RECALL_TABLES").map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(16, 24, 32, 48));
         probes <- sys.env.get("RECALL_PROBES").map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(0))) {
      val t0 = System.nanoTime()
      val got = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
        dim = 64, threshold = 0.45, planesPerTable = 0, tables = tables,
        probes = probes)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[recall] d06 auto-planes tables=$tables probes=$probes: " +
        s"${(exactPairs intersect got).size}/${exactPairs.size}" +
        f" (${secs}%.1fs)" +
        (if (got == exactPairs) "  EXACT" else ""))
    }
    }
    if (sections("s04")) {
    // s04 (PQ-ADC) vs exact brute force: rank-1 and top-5 recall per ks, m
    val q = e.filter(col("vec_id") < 50)
    val ex1 = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ex5 = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    for ((m, ks) <- Seq((8, 16), (8, 32), (8, 64), (16, 16))) {
      val t0 = System.nanoTime()
      val pq1 = Similarity.pqTopK(e, q, "vec_id", "embedding",
          k = 5, dim = 64, m = m, ks = ks)
        .select("query_id", "neighbor_id", "rank").collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val got1 = pq1.filter(_.getInt(2) == 1)
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got5 = pq1.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val r1 = ex1.count { case (k2, v) => got1.get(k2).contains(v) }
        .toDouble / ex1.size
      val r5 = ex5.map { case (k2, s) =>
        (s & got5.getOrElse(k2, Set.empty)).size.toDouble / s.size }
        .sum / ex5.size
      println(f"[recall] s04 m=$m ks=$ks: rank1=$r1%.4f top5=$r5%.4f (${secs}%.1fs)")
    }
    }

    if (sections("x03")) {
    // x03 -> ANN chain: search PROJECTED vectors (dOut in {16, 36}) against
    // full-dim exact truth — the recall/wall trade the projection exists for
    val q = e.filter(col("vec_id") < 50)
    val ex5 = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val t0f = System.nanoTime()
    Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5).collect()
    val fullSecs = (System.nanoTime() - t0f) / 1e9
    println(f"[recall] x03 full-dim brute top-5 wall=${fullSecs}%.1fs (truth)")
    for (dOut <- Seq(16, 36)) {
      val pe = graft.operators.Projection.projectedVectors(
        e, "vec_id", "embedding", dIn = 64, dOut = dOut)
      val pq = pe.filter(col("vec_id") < 50)
      val t0 = System.nanoTime()
      val got = Similarity.bruteForceTopK(pe, pq, "vec_id", "embedding_proj",
          k = 5)
        .select("query_id", "neighbor_id").collect()
      val secs = (System.nanoTime() - t0) / 1e9
      val got5 = got.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val r5 = ex5.map { case (k2, s) =>
        (s & got5.getOrElse(k2, Set.empty)).size.toDouble / s.size }
        .sum / ex5.size
      println(f"[recall] x03 brute@dOut=$dOut: top5=$r5%.4f (${secs}%.1fs)")
      val t1 = System.nanoTime()
      val lsh = Similarity.lshTopK(pe, pq, "vec_id", "embedding_proj",
          k = 5, dim = dOut, planesPerTable = 2, tables = 24)
        .select("query_id", "neighbor_id").collect()
      val lsecs = (System.nanoTime() - t1) / 1e9
      val l5 = lsh.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      val lr5 = ex5.map { case (k2, s) =>
        (s & l5.getOrElse(k2, Set.empty)).size.toDouble / s.size }
        .sum / ex5.size
      println(f"[recall] x03 lsh@dOut=$dOut (2x24): top5=$lr5%.4f (${lsecs}%.1fs)")
    }
    // the d06-shaped chain (the realistic consumer): candidate pairs from
    // PROJECTED cosine at threshold − JL margin, exact confirm on full dim.
    // Recall = true pairs surviving the coarse filter; the payoff is the
    // quadratic stage running on dOut floats instead of 64.
    val n64 = e.select(col("vec_id").as("id"),
      graft.functions.VectorFunctions.l2normalize(col("embedding")).as("v"))
    val truePairs = n64.as("a").join(n64.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.45)
      .select("id_a", "id_b")
      .localCheckpoint()
    val nTrue = truePairs.count()
    val nVecs = e.count()
    for (dOut <- Seq(16, 36); margin <- Seq(1.0, 1.5, 2.0)) {
      val cut = 0.45 - margin / math.sqrt(dOut.toDouble)
      val pe = graft.operators.Projection.projectedVectors(
          e, "vec_id", "embedding", dIn = 64, dOut = dOut)
        .select(col("vec_id").as("id"),
          graft.functions.VectorFunctions.l2normalize(col("embedding_proj")).as("v"))
      val t0 = System.nanoTime()
      val cand = pe.as("a").join(pe.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          graft.functions.VectorFunctions.dot(col("a.v"), col("b.v")).as("pcos"))
        .filter(col("pcos") >= cut)
        .select("id_a", "id_b")
        .localCheckpoint()
      val nCand = cand.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val hit = truePairs.join(cand, Seq("id_a", "id_b"), "left_semi").count()
      val rec = hit.toDouble / math.max(nTrue, 1L)
      val frac = nCand.toDouble / (nVecs.toDouble * (nVecs - 1) / 2)
      println(f"[recall] x03 d06-chain dOut=$dOut margin=$margin%.1f " +
        f"(cut=$cut%.3f): pair-recall=$rec%.4f candidates=$nCand " +
        f"(${frac * 100}%.1f%% of pair space, true=$nTrue) (${secs}%.1fs)")
    }
    }

    // d03 vs exact n-gram jaccard pairs. maxDocFreq is pushed past any corpus
    // size: the operator's default stop-shingle prune (1000) could drop a pair
    // sharing ONLY ultra-common shingles, and an oracle must not inherit that
    // trade. RECALL_D03="64x16;128x32" sweeps numHashes x bands; slices of a
    // longer signature extend the shorter one (splitmix64 family indexed by
    // position), so a doubled config's candidates are a strict superset —
    // recall can only rise.
    sys.env.get("RECALL_D03").foreach { spec =>
      val docs = graft.sources.Lake.table(spark, sfDir, "documents")
      val exactP = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.4, maxDocFreq = Long.MaxValue)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (cfg <- spec.split(";").toSeq) {
        val Array(nh, nb) = cfg.split("x").map(_.trim.toInt)
        val t0 = System.nanoTime()
        val got = Dedup.minhashPairs(docs, "doc_id", "text",
          shingleN = 3, numHashes = nh, bands = nb, threshold = 0.4)
          .select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[recall] d03 numHashes=$nh bands=$nb: " +
          s"${(exactP intersect got).size}/${exactP.size}" +
          f" (${secs}%.1fs)" +
          (if (got == exactP) "  EXACT" else ""))
      }
    }
    spark.stop()
  }
}
