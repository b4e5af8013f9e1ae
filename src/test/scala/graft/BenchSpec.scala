package graft

import com.fasterxml.jackson.databind.ObjectMapper

class BenchSpec extends SparkSpec {

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("one line: timings, counted volumes and the ingest record") {
    val (line, failed) = Bench.execute(spark, sf0001, Set("q01_filter_sort"), Bench.ingest)
    assert(failed.isEmpty)
    val j = parse(line)
    assert(j.get("metric").asText === "total")
    assert(j.get("queries").get("q01_filter_sort").asDouble > 0)
    assert(j.get("value").asText === j.get("queries").get("q01_filter_sort").asText)
    val v = j.get("volumes").get("q01_filter_sort")
    assert(v.get("jobs").asLong > 0 && v.get("input_rows").asLong > 0)
    assert(v.get("output_rows").asLong === SparkEntry.queries("q01_filter_sort")(spark, sf0001).count())
    val lineitem = graft.sources.Lake.table(spark, sf0001, "lineitem").count()
    assert(j.get("pipeline_rows").asLong === lineitem)
  }

  test("a failed ingest is recorded as null and fails the run, not as a fast " +
       "0-row pass") {
    val broken = Bench.ingest.copy(
      source = Bench.ingest.source.copy(sqlText = "SELECT * FROM no_such_table"))
    val (line, failed) = Bench.execute(spark, sf0001, Set("none"), broken)
    assert(failed === Seq("pipeline"))
    val j = parse(line)
    Seq("pipeline_rows", "pipeline_sec", "pipeline_rows_per_sec").foreach { k =>
      assert(j.get(k).isNull, s"$k must be null for a failed ingest: $line")
    }
  }
}
