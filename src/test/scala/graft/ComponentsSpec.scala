package graft

import graft.operators.{Components, Dedup}
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {

  /** Resolve on BOTH paths — the default driver union-find (small graphs)
    * and the distributed alternating-star loop (maxLocalEdges = -1) — and
    * pin them identical before returning. */
  private def resolve(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val local = Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val loop = Components.connectedComponents(pairs.toDF("a", "b"), "a", "b",
        maxLocalEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === loop,
      "driver union-find path and distributed loop disagree")
    local
  }

  test("two components and a chain resolve to min-id labels") {
    // component {1,2,3} (chain), component {7,9}
    val got = resolve(Seq((2L, 1L), (2L, 3L), (9L, 7L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("a long path converges (the case that defeats naive min propagation slowly)") {
    // path 0-1-2-...-40: one component labeled 0
    val path = (0L until 40L).map(i => (i, i + 1))
    val got = resolve(path)
    assert(got.size === 41 && got.values.forall(_ == 0L))
  }

  test("high-degree hubs (the skew case the alternating stars dismantle)") {
    // two 500-spoke stars bridged by one edge: one component labeled by the
    // global min id; converges without AQE skew handling by construction
    val hubA = (1L to 500L).map(i => (0L, i * 2))
    val hubB = (1L to 500L).map(i => (1001L, 1001L + i * 2))
    val got = resolve(hubA ++ hubB :+ (0L, 1001L))
    assert(got.size === 1002 && got.values.forall(_ == 0L))
  }

  test("maxRounds exhaustion fails loudly, not with a wrong answer") {
    import spark.implicits._
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      Components.connectedComponents(path, "a", "b", maxRounds = 1,
        maxLocalEdges = -1L)
    }
  }

  test("self-loops and duplicate/reversed edges are harmless") {
    val got = resolve(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L)))
    // pure self-loop vertices carry no edge information and drop out
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("per-round driver-action budget: no eager-checkpoint count job, " +
      "at most two job-running executions per round") {
    import spark.implicits._
    // Count SQL executions that actually run cluster work: distinct execution
    // ids seen on JobStart. Raw SQLExecutionStart events over-count (the lazy
    // checkpoint's withAction wrapper registers an execution but runs zero
    // jobs); raw job counts under-determine (AQE splits one action into a job
    // per materialized stage). Also record each job's short call site: an
    // eager localCheckpoint would show up as a per-round "count at ..." job.
    val path = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val ((labels, rounds), rec) = Counters.measure(spark) {
      Components.connectedComponentsWithRounds(path, "a", "b",
        maxLocalEdges = -1L)
    }
    def execId(j: Counters.Job) = j.executionId.fold(s"job-${j.id}")(_.toString)
    val actionsDuring = rec.jobs.map(execId).toSet.size
    val countJobs = rec.jobs.filter(_.callSite.startsWith("count at"))
      .map(j => s"${execId(j)}:${j.callSite}").toSet
    assert(rounds >= 2, s"path graph should need several rounds, got $rounds")
    // Per round: one execution materializing the round's shuffles (AQE
    // stages under the lazy checkpoint's wrapper) + the fused
    // count+fingerprint checksum action. Plus the same pair once for the
    // initial edge list. Nothing else may run a job — in particular no
    // per-round eager-checkpoint full-pass count job.
    assert(actionsDuring <= 2 * (rounds + 1),
      s"expected <= ${2 * (rounds + 1)} job-running executions " +
        s"($rounds rounds), got $actionsDuring")
    assert(countJobs.isEmpty,
      s"eager-checkpoint count jobs detected: $countJobs")
    // and the result is still right (materialization-by-checksum is sound)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 41 && got.values.forall(_ == 0L))
  }

  /** Reference labels: driver-side union-find linking larger roots under
    * smaller, so each component's final label is its minimum vertex id —
    * the same contract as connectedComponents. */
  private def unionFindLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("random graphs resolve identically to a driver union-find (seeded)") {
    val rnd = new scala.util.Random(42)
    // sparse regime (n >> m) keeps many small components + isolated chains
    val pairs = Seq.fill(1500)((rnd.nextLong(2000), rnd.nextLong(2000)))
      .filter { case (a, b) => a != b }
    assert(resolve(pairs) === unionFindLabels(pairs))
  }

  test("clusters match a local union-find over the real near-dup pairs") {
    val docs = sources.Lake.table(spark, sf001, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.4)
    val edge = pairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edge.nonEmpty)

    val want = unionFindLabels(edge.toSeq)

    val got = Components.clusters(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(g => g._1 -> g._2).toMap === want)
    // sizes consistent with the labels
    val sizeByCluster = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (_, c, n) => assert(n === sizeByCluster(c)) }
  }
}
