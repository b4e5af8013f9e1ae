package graft

import org.apache.spark.sql.functions.col

/** Counters drains the listener bus exactly, so its record is complete and
  * repeatable without any wait — pinned here with no sleep anywhere. */
class CountersSpec extends SparkSpec {

  private def noopRun(name: String): Counters.Record = Counters.measure(spark) {
    SparkEntry.queries(name)(spark, sf0001).write.format("noop").mode("overwrite").save()
  }._2

  test("two runs of one query agree exactly on jobs and shuffle write volume") {
    val a = noopRun("q05_window_topn")
    val b = noopRun("q05_window_topn")
    assert(a.jobs.nonEmpty && a.shuffleWriteBytes > 0 && a.shuffleWriteRecords > 0)
    assert(a.jobs.size === b.jobs.size)
    assert(a.shuffleWriteBytes === b.shuffleWriteBytes)
    assert(a.shuffleWriteRecords === b.shuffleWriteRecords)
    assert(a.jobs.forall(_.wallMs >= 0), "every job of a finished action has ended")
  }

  test("a job fired at plan time is counted: ivfPqTopK trains its codebooks " +
       "while the DataFrame is built") {
    val e = graft.sources.Lake.table(spark, sf0001, "embeddings")
    val (_, rec) = Counters.measure(spark) {
      graft.operators.Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 4),
        "vec_id", "embedding", k = 5, dim = 64, m = 8, ks = 16,
        centroids = 8, nprobe = 4)
    }
    assert(rec.jobs.nonEmpty && rec.tasks.nonEmpty)
  }

  test("events of work finished before the body never reach its record") {
    noopRun("q05_window_topn")
    val (_, rec) = Counters.measure(spark)(())
    assert(rec.jobs.isEmpty && rec.tasks.isEmpty)
  }
}
