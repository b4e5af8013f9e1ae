package graft

import graft.operators.{FingerprintIndex, HistoryDedup}
import org.apache.spark.sql.functions._

class FingerprintIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshIdx(tag: String): String =
    graft.util.Scratch.dir(s"graft-fpidx-$tag-" +
      java.util.UUID.randomUUID().toString.take(8)).toString + "/idx"

  test("multi-batch pipeline equals the all-earlier-batches anti-join; " +
       "within-batch dups all survive") {
    val idx = freshIdx("multi")
    val batches = Seq(
      Seq(1L -> "alpha doc", 2L -> "beta doc", 3L -> "beta doc"),
      Seq(10L -> "ALPHA   doc", 11L -> "gamma doc"),
      Seq(20L -> "gamma doc", 21L -> "beta doc", 22L -> "delta doc"))
    val got = batches.zipWithIndex.map { case (b, i) =>
      FingerprintIndex.step(b.toDF("doc_id", "text"), "text", idx, i.toLong,
        expectedHistoryRows = 1000L)
        .select("doc_id").as[Long].collect().toSet
    }
    assert(got(0) == Set(1L, 2L, 3L), "first batch: everything is new")
    assert(got(1) == Set(11L), "10 normalizes to batch-0's alpha")
    assert(got(2) == Set(22L), "gamma/beta already indexed")
  }

  test("replaying a batch is idempotent: same index content, same " +
       "downstream survivors") {
    val idx = freshIdx("replay")
    val b0 = Seq(1L -> "one doc", 2L -> "two doc").toDF("doc_id", "text")
    val b1 = Seq(10L -> "one doc", 11L -> "three doc").toDF("doc_id", "text")
    FingerprintIndex.step(b0, "text", idx, 0L, 1000L)
    val before = FingerprintIndex.read(spark, idx).as[Long].collect().sorted
    // retry of batch 0 (e.g. after a failed downstream stage)
    FingerprintIndex.step(b0, "text", idx, 0L, 1000L)
    val after = FingerprintIndex.read(spark, idx).as[Long].collect().sorted
    assert(before.toSeq == after.toSeq, "replay must not duplicate state")
    val got = FingerprintIndex.step(b1, "text", idx, 1L, 1000L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L))
  }

  test("an absent index reads empty: the first batch of a fresh pipeline " +
       "keeps everything") {
    val idx = freshIdx("fresh")
    assert(FingerprintIndex.read(spark, idx).count() == 0L)
    val b = Seq(1L -> "a doc here").toDF("doc_id", "text")
    assert(FingerprintIndex.step(b, "text", idx, 0L, 10L).count() == 1L)
  }

  test("manifest bound: step(expectedBatchRows) fires strictly fewer jobs " +
       "than the HLL path on identical input — no eager batch scan") {
    def jobsFor(bound: Long, tag: String): Int = {
      val idx = freshIdx(tag)
      FingerprintIndex.append(
        Seq(1L -> "seen doc").toDF("doc_id", "text"), "text", idx, 0L)
      val batch = Seq(10L -> "new doc", 11L -> "seen doc")
        .toDF("doc_id", "text")
      val (got, rec) = Counters.measure(spark) {
        FingerprintIndex.step(batch, "text", idx, 1L,
          expectedHistoryRows = 1000L, expectedBatchRows = bound)
          .select("doc_id").as[Long].collect().toSet
      }
      assert(got == Set(10L))
      rec.jobs.size
    }
    val withBound = jobsFor(1000L, "mb1")
    val hllPath = jobsFor(-1L, "mb2")
    assert(withBound < hllPath,
      s"manifest bound must drop the eager HLL job: $withBound vs $hllPath")
  }

  test("plan: the dedup scans ONLY the compact index — one file scan, " +
       "fingerprints only, never history text") {
    val idx = freshIdx("plan")
    FingerprintIndex.append(
      Seq(1L -> "history doc").toDF("doc_id", "text"), "text", idx, 0L)
    val batch = Seq(10L -> "new doc").toDF("doc_id", "text")
    val plan = HistoryDedup.newAgainstFingerprints(batch,
        FingerprintIndex.read(spark, idx), "text", 1000L)
      .queryExecution.executedPlan.toString
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty, s"no file scan found:\n$plan")
    assert(readSchemas.forall(_ == "ReadSchema: struct<_fp:bigint>"),
      s"every file scan must project the 8-byte fingerprint only — no " +
        s"history text/rows: $readSchemas\n$plan")
  }
}
