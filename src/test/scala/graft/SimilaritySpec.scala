package graft

import graft.operators.Similarity
import graft.sources.Lake
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1f, 0f, 0f)),
    (2L, Seq(0.9f, 0.1f, 0f)), // closest to 1
    (3L, Seq(0f, 1f, 0f)),
    (4L, Seq(0f, 0.9f, 0.1f)), // closest to 3
    (5L, Seq(0f, 0f, 1f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK returns exact neighbors in rank order") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(out(0).getAs[Int]("rank") == 1)
    assert(out(0).getAs[Double]("cosine") > 0.98)
  }

  test("bruteForceTopK excludes self by default") {
    val out = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 4)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // every query gets exactly k=4 neighbors (corpus of 5, minus self)
    val counts = out.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 4))
  }

  test("lshTopK rank-1 recall vs brute force on real embeddings") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // this corpus's true NNs sit near cosine 0.5 (collision prob ≈ 0.67/plane),
    // so recall needs few planes per table and many tables
    val approx = Similarity.lshTopK(e, queries, "vec_id", "embedding",
      k = 1, dim = 64, planesPerTable = 4, tables = 12)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exact.count { case (q, n) => approx.get(q).contains(n) }
    // multi-table sign-LSH should recover the true NN for most queries
    assert(hits >= (exact.size * 0.6).toInt, s"recall too low: $hits/${exact.size}")
  }

  test("query-side multi-probe lifts lshTopK rank-1 recall at the same table budget") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // deliberately starved budget (vs the 4x12 recall test above) so the base
    // config has real rank-1 misses for the probes to recover; everything is
    // seed-deterministic (lake fixture + hyperplanes), so the counts are
    // constants of the code
    def hits(probes: Int): Int = {
      val approx = Similarity.lshTopK(e, queries, "vec_id", "embedding",
        k = 1, dim = 64, planesPerTable = 6, tables = 4, probes = probes)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      exact.count { case (q, n) => approx.get(q).contains(n) }
    }
    val base = hits(0)
    val probed = hits(3)
    assert(base < exact.size, s"fixture too easy: base already total ($base/${exact.size})")
    assert(probed > base, s"probes must recover rank-1 misses: base=$base probed=$probed of ${exact.size}")
  }

  test("ivfTopK with full probe equals brute force; partial probe trades recall for cost") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet

    // nprobe = centroids: every cell probed -> exact by construction
    val full = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 5, dim = 64, centroids = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === exact)

    // partial probe: meaningful rank-1 recall at a fraction of the candidates
    val exact1 = exact.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    val part = Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 1, dim = 64, centroids = 8, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val hits = exact1.count { case (q, n) => part.get(q).contains(n) }
    assert(hits >= (exact1.size * 0.5).toInt, s"ivf recall too low: $hits/${exact1.size}")
  }

  test("pqTopK finds same-cluster neighbors on planted cluster structure") {
    // 8 well-separated axis clusters, 12 vectors each with small noise: the
    // PQ approximation must rank a same-cluster vector first for every query
    val rnd = new scala.util.Random(41)
    val vecs = for (c <- 0 until 8; i <- 0 until 12) yield {
      val base = Array.fill(64)(0.05f)
      (0 until 8).foreach(j => base(c * 8 + j) = 1.0f)
      ((c * 100 + i).toLong,
        base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, df.filter(col("vec_id") % 100 < 2),
        "vec_id", "embedding", k = 1, dim = 64, m = 8, ks = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.length == 16)
    val sameCluster = got.count { case (q, n) => q / 100 == n / 100 }
    assert(sameCluster >= 15, s"PQ must respect planted clusters: " +
      s"$sameCluster/16 same-cluster rank-1 hits")
  }

  test("pqTopK is deterministic across runs and never shuffles a vector") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val df = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
    val a = df.collect().map(_.toString).sorted
    val b = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // the only exchange is the per-query top-k window over
    // (query_id, neighbor_id, decimal score) — codes and tables are
    // row-local, the embedding column never appears past the scan projection
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.forall(_.contains("query_id")),
      s"only the rank window may shuffle:\n$plan")
  }

  test("ivfPqTopK at full probe equals plain pqTopK bit-for-bit; partial " +
       "probe prunes the scan and keeps planted-cluster recall") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    val plain = Similarity.pqTopK(e, q, "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ks = 16)
      .collect().map(_.toString).sorted
    val full = Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ks = 16, centroids = 8, nprobe = 8)
      .collect().map(_.toString).sorted
    assert(full.sameElements(plain),
      "probing every cell must reproduce plain PQ-ADC exactly")
    // plan: the (query, cell, tables) side broadcasts into the cell join;
    // the corpus/code side never sort-merges, only the rank window shuffles
    val plan = Similarity.ivfPqTopK(e, q, "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ks = 16, centroids = 16, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"cell join must broadcast the probe side:\n$plan")
    // partial probe on planted clusters: the coarse cells align with the
    // cluster structure, so rank-1 stays same-cluster for nearly all queries
    val rnd = new scala.util.Random(43)
    val vecs = for (c <- 0 until 8; i <- 0 until 12) yield {
      val base = Array.fill(64)(0.05f)
      (0 until 8).foreach(j => base(c * 8 + j) = 1.0f)
      ((c * 100 + i).toLong,
        base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq)
    }
    import spark.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.ivfPqTopK(df, df.filter(col("vec_id") % 100 < 2),
        "vec_id", "embedding", k = 1, dim = 64, m = 8, ks = 16,
        centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val sameCluster = got.count { case (qid, n) => qid / 100 == n / 100 }
    assert(got.length >= 15 && sameCluster >= got.length - 1,
      s"partial-probe IVFADC must respect planted clusters: " +
        s"$sameCluster/${got.length}")
  }

  test("ivfTopK degrades gracefully on a corpus smaller than nprobe: " +
       "clamps to the available cells and stays exact") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val tiny = e.filter(col("vec_id") < 3)  // 3 vectors < nprobe = 4
    val got = Similarity.ivfTopK(tiny, tiny, "vec_id", "embedding",
      k = 2, dim = 64, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(tiny, tiny, "vec_id", "embedding", k = 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got === exact, "clamped full probe over every cell must be exact")
  }

  test("trained-centroid IVF: kmeansStep's codebook drives the explicit " +
       "overload; full probe stays exact under ANY placement, and trained " +
       "partial-probe recall is at least the id-seed quantizer's") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    // x02 -> s03: pivot one Lloyd step's (cluster, dim_idx, centroid) rows
    val step = graft.operators.Clustering
      .kmeansStep(e, "vec_id", "embedding", k = 8)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(3)))
    val cents = Array.ofDim[Double](8, 64)
    step.foreach { case (c, d, v) => cents(c)(d) = v }

    val full = Similarity.ivfTopK(e, queries, "vec_id", "embedding", k = 5,
        cents2d = cents, nprobe = 8, excludeSelf = true)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === exact, "full probe must be exact under trained placement")

    val exact1 = exact.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    def rank1Hits(df: org.apache.spark.sql.DataFrame): Int = {
      val m = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      exact1.count { case (q, n) => m.get(q).contains(n) }
    }
    val trained = rank1Hits(Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 1, cents2d = cents, nprobe = 3, excludeSelf = true))
    val seeded = rank1Hits(Similarity.ivfTopK(e, queries, "vec_id", "embedding",
      k = 1, dim = 64, centroids = 8, nprobe = 3))
    assert(trained >= seeded,
      s"trained placement must not lose to id-seeds: $trained < $seeded of ${exact1.size}")
  }

  test("deterministic across runs (seeded hyperplanes)") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") === 3)
    val a = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
      .collect().map(_.toString).toSeq
    val b = Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("ivfPqTopK trains all m codebooks in ONE aggregation job: plan " +
       "construction fires <= 3 Spark jobs (was 1 + 2m)") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 4)
    val jobs = Counters.measure(spark) {
      Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 5, dim = 64,
        m = 8, ks = 16, centroids = 8, nprobe = 4)
    }._2.jobs.size
    // coarse-centroid TakeOrdered + seed TakeOrdered + the ONE training
    // aggregation (2 jobs under AQE: shuffle-map stage + result) — the
    // driver-side seams, nothing per-subspace. m sequential kmeansStep
    // jobs measured 17+ here.
    assert(jobs <= 4, s"codebook training fired $jobs jobs — " +
      "per-subspace sequential training is back")
  }

  test("trainRows: sample-bounded codebook training — a sample covering the " +
       "corpus is bit-identical to full training; a strict sample stays " +
       "deterministic and well-formed") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val n = e.count().toInt
    val q = e.filter(col("vec_id") < 8)
    val full = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5, dim = 64)
      .collect().map(_.toString).sorted
    val covering = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5,
        dim = 64, trainRows = n)
      .collect().map(_.toString).sorted
    assert(covering.sameElements(full),
      "trainRows >= |corpus| must reproduce full training bit-for-bit")
    val sampled = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5,
        dim = 64, trainRows = 64)
    val a = sampled.collect().map(_.toString).sorted
    val b = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5, dim = 64,
        trainRows = 64).collect().map(_.toString).sorted
    assert(a.sameElements(b), "id-ordered sample training must be deterministic")
    assert(a.length == 8 * 5)
    // same contract for the residual variant
    val rFull = Similarity.ivfPqResidualTopK(e, q, "vec_id", "embedding",
        k = 5, dim = 64, centroids = 8, nprobe = 8)
      .collect().map(_.toString).sorted
    val rCovering = Similarity.ivfPqResidualTopK(e, q, "vec_id", "embedding",
        k = 5, dim = 64, centroids = 8, nprobe = 8, trainRows = n)
      .collect().map(_.toString).sorted
    assert(rCovering.sameElements(rFull),
      "residual: trainRows >= |corpus| must reproduce full training")
  }

  test("residual IVFADC: resolves within-cluster structure that global " +
       "codebooks quantize away — twin recall >= non-residual's, " +
       "deterministic, codes-only scan") {
    // The textbook residual demonstration (Jégou §III): clusters at scale
    // 10 (absorbed by the coarse quantizer), a fine "sub-pattern" at scale
    // 1 that defines each vector's true twin, noise at 0.05. Ids
    // INTERLEAVE clusters (i % 16) so the deterministic lowest-id seeds
    // span all clusters — an id order correlated with the clusters would
    // starve ANY id-ordered quantizer, which is a seed pathology, not a
    // codebook property. Vector i's designed twin is i + 256 (same
    // cluster, same sub-pattern): global codebooks spend their 16
    // codewords on the scale-10 cluster spread and merge the scale-1 twin
    // signal; residual codebooks see only the within-cell spread and keep
    // it.
    // Fixture geometry: clusters live on EVEN dims (dims 2c and 2c+32 at
    // scale 10), sub-patterns on ODD dims (2s+1, 2s+33 at scale 1) —
    // disjoint, so the twin margin is uncontaminated, yet every 8-dim PQ
    // subspace contains both scales, so a global codebook must spend its
    // codewords on the scale-10 cluster spread and merges the scale-1 twin
    // signal, while residual codebooks see only the within-cell spread.
    // Ids 0..15 are PURE cluster prototypes (the coarse prefix — cell
    // centroids carry no sub-pattern, residuals are exactly sub + noise);
    // from id 16 on, cluster = i mod 16 and subpat = (i/16 + i) mod 16 —
    // independent coordinates that BOTH cycle fully within any contiguous
    // 16-id block, so the deterministic id-ordered seed prefixes span
    // clusters and sub-patterns alike. Twin i+256 keeps both coordinates
    // (256 ≡ 0 mod 16, and 256/16 + 256 ≡ 0 mod 16).
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 512).map { i =>
      val cluster = i % 16
      val subpat = if (i < 16) -1 else (i / 16 + i) % 16
      val v = Array.tabulate(64) { d =>
        (if (d == 2 * cluster || d == 2 * cluster + 32) 10.0f else 0.0f) +
          (if (subpat >= 0 && (d == 2 * subpat + 1 || d == 2 * subpat + 33))
             1.0f else 0.0f) +
          (rnd.nextFloat() - 0.5f) * 0.05f
      }
      (i.toLong, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id").between(16, 31))
    def twinHits(out: Array[(Long, Long)]): Int =
      out.count { case (qq, n) => n == qq + 256 }
    val res = Similarity.ivfPqResidualTopK(df, q, "vec_id", "embedding",
        k = 1, dim = 64, m = 8, ks = 16, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val plain = Similarity.ivfPqTopK(df, q, "vec_id", "embedding",
        k = 1, dim = 64, m = 8, ks = 16, centroids = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(res.length == 16)
    assert(twinHits(res) >= twinHits(plain),
      s"residual codebooks must not lose twin recall: " +
        s"${twinHits(res)} vs non-residual ${twinHits(plain)}")
    assert(twinHits(res) >= 14, s"twin recall ${twinHits(res)}/16")
    // determinism + plan shape: broadcast cell join, only the rank window
    // shuffles, no vector past the scan projection
    val e = Lake.table(spark, sf0001, "embeddings")
    val qe = e.filter(col("vec_id") < 8)
    val d1 = Similarity.ivfPqResidualTopK(e, qe, "vec_id", "embedding",
      k = 5, dim = 64, m = 8, ks = 16, centroids = 8, nprobe = 3)
    val a = d1.collect().map(_.toString).sorted
    val b = Similarity.ivfPqResidualTopK(e, qe, "vec_id", "embedding",
        k = 5, dim = 64, m = 8, ks = 16, centroids = 8, nprobe = 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val plan = d1.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"cell join must broadcast the probe side:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.forall(_.contains("query_id")),
      s"only the rank window may shuffle:\n$plan")
  }

  test("wrong dim fails fast instead of silently slicing short subvectors") {
    val e = Lake.table(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 2)
    val err = intercept[IllegalArgumentException] {
      Similarity.pqTopK(e, q, "vec_id", "embedding", k = 2, dim = 32, m = 8)
    }
    assert(err.getMessage.contains("expected dim=32"))
  }
}
