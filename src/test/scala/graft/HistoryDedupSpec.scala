package graft

import graft.functions.{TextFunctions => T}
import graft.operators.HistoryDedup
import org.apache.spark.sql.functions.col

class HistoryDedupSpec extends SparkSpec {
  import spark.implicits._

  private val history = Seq(
    1L -> "the quick brown fox",
    2L -> "  The   QUICK brown fox ",   // normalizes to the same as 1
    3L -> "jumps over the lazy dog",
    4L -> "an entirely different doc").toDF("doc_id", "text")

  private val batch = Seq(
    10L -> "the quick brown fox",        // exact dup of history 1
    11L -> "THE QUICK  BROWN   fox",     // formatting-only dup -> drop
    12L -> "a genuinely new document",
    13L -> "jumps over the lazy dog",    // dup of history 3
    14L -> "another new one",
    15L -> "another new one").toDF("doc_id", "text") // in-batch dup: BOTH kept

  test("survivors are exactly the batch rows whose normalized fingerprint " +
       "is absent from history; in-batch dups are not this operator's job") {
    val got = HistoryDedup.newAgainstHistory(batch, history, "text", 1000L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(12L, 14L, 15L))
  }

  test("equals the plain anti-join on the d02 fingerprint for random " +
       "corpora with planted cross-batch dups") {
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val words = Vector("alpha", "beta", "gamma", "delta", "eps")
      def doc() = Seq.fill(3 + rnd.nextInt(5))(words(rnd.nextInt(words.size)))
        .mkString(" ")
      val histDocs = (0 until 40).map(i => i.toLong -> doc())
      // batch: half fresh, half recrawls of random history docs with
      // whitespace/case jitter (normalizes identical)
      val batchDocs = (0 until 30).map { i =>
        val id = 1000L + i
        if (i % 2 == 0) id -> doc()
        else {
          val src = histDocs(rnd.nextInt(histDocs.size))._2
          id -> ("  " + src.toUpperCase + "  ")
        }
      }
      val h = histDocs.toDF("doc_id", "text")
      val b = batchDocs.toDF("doc_id", "text")
      val got = HistoryDedup.newAgainstHistory(b, h, "text", 1000L)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      val want = b.withColumn("_fp", T.fingerprint(col("text")))
        .join(h.select(T.fingerprint(col("text")).as("_fp")).distinct(),
          Seq("_fp"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq === want.toSeq)
    }
  }

  test("edges: empty history keeps the whole batch; a batch fully covered " +
       "by history drops to zero rows") {
    val none = history.where(col("doc_id") < 0)
    assert(HistoryDedup.newAgainstHistory(batch, none, "text", 1L).count()
      === batch.count())
    val covered = history.select(col("doc_id") + 100L as "doc_id", col("text"))
    assert(HistoryDedup.newAgainstHistory(covered, history, "text", 1000L)
      .count() === 0L)
  }

  test("plan shape: neither side is ever sort-merge joined — the bloom " +
       "probe is a scan filter and both confirm joins broadcast") {
    val plan = HistoryDedup.newAgainstHistory(batch, history, "text", 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe must sit in a filter:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"history/batch must never shuffle to join:\n$plan")
  }

  test("broadcast cap: a maybe-set past maxBroadcastRows drops the forced " +
       "broadcast hints (planner free to shuffle) with identical output") {
    val shuffled = HistoryDedup.newAgainstHistory(batch, history, "text",
      1000L, maxBroadcastRows = 0L)
    // over the cap the plan carries NO forced-broadcast hint — a genuinely
    // huge maybe-set may then be shuffle-joined instead of failing the job
    // (the tiny test frames still auto-broadcast by size, which is fine)
    assert(!shuffled.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "cap=0 must drop the broadcast hints")
    assert(HistoryDedup.newAgainstHistory(batch, history, "text", 1000L)
      .queryExecution.analyzed.toString.contains("ResolvedHint"),
      "under the cap the hints must stay")
    val got = shuffled.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(12L, 14L, 15L), "fallback path changed output")
  }

  test("expectedBatchRows: a caller-supplied manifest bound replaces the " +
       "eager HLL scan — hint follows the bound, output identical") {
    // under the cap: hint present; the only plan-time job is the Bloom build
    val (bounded, rec) = Counters.measure(spark) {
      HistoryDedup.newAgainstHistory(batch, history, "text", 1000L,
        expectedBatchRows = 10L)
    }
    val jobs = rec.jobs.size
    assert(jobs <= 1, s"manifest bound must not add an eager scan: $jobs jobs")
    assert(bounded.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // over the cap via the bound alone: hints dropped, output unchanged
    val over = HistoryDedup.newAgainstHistory(batch, history, "text", 1000L,
      maxBroadcastRows = 5L, expectedBatchRows = 10L)
    assert(!over.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(over.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(12L, 14L, 15L))
    assert(bounded.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(12L, 14L, 15L))
  }
}
