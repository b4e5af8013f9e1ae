package graft

import graft.config.{DatasetConfig, SourceConfig, TransformConfig}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line. Each query is forced through the `noop` sink — unlike `count()`,
  * which lets Catalyst prune all columns and skip most of the work, noop fully
  * materializes every output row, so the timing reflects real execution.
  *
  * The line also carries each query's volumes, counted by [[Counters]] on its
  * first warm-up execution: jobs, scanned input rows, shuffle write
  * bytes/records, shuffle read bytes and output rows. Volumes, unlike wall
  * times, are deterministic per plan + data; `tools/sizing_report.py` turns
  * them into SIZING.md's 100 TB capacity sheet.
  *
  * Env: SPARK_GRAFT_SF_DIR (lake), SPARK_GRAFT_BENCH_ONLY (comma list of name
  * prefixes; unset runs everything), SPARK_GRAFT_BENCH_OUT (file copy of the
  * line, default BENCH_LAST.json). */
object Bench {

  /** Measurement-only variants, outside the oracle-gated suite: timed and
    * counted like queries, reported under `variants`, left out of `total`.
    * d05 at a production threshold (t = 0.8) — the prefix filter's lossless
    * prefix shrinks from |s|−ceil(0.4|s|)+1 to |s|−ceil(0.8|s|)+1, so its
    * scaladoc claim ("quadratically more exchange saved at real-world
    * thresholds") becomes a measured number next to the shipped t = 0.4 row. */
  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d05_ngram_jaccard_t08" -> ((s: SparkSession, dir: String) =>
      graft.operators.Dedup.ngramJaccardPairs(
        graft.sources.Lake.table(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", shingleN = 3, threshold = 0.8)))

  /** BASELINE.md comparison: the reference's end-to-end ingestion class is
    * extract -> transform -> single-file snappy parquet + CTL manifest
    * (~19.4k rows/s single-threaded). Same pipeline, same shape, full lineitem. */
  val ingest: DatasetConfig = DatasetConfig(
    datasetId = "bench-ingest",
    source = SourceConfig(extractionType = "Query", sqlText = "SELECT * FROM lineitem"),
    transformations = Seq(TransformConfig("DataCleansing",
      order = 1, config = Map("trimWhitespace" -> true))))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev knob: SPARK_GRAFT_BENCH_ONLY="d07,d08" limits the run (unset -> all)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val spark = LakeSession.create()
    val (jsonLine, failed) = try execute(spark, sfDir, only, ingest) finally spark.stop()
    println(jsonLine)
    // stdout tails get truncated by log capture; a file copy keeps the
    // artifact lossless (every query present, parseable). Defaults to
    // BENCH_LAST.json in the working dir so every bench run leaves it.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (failed.nonEmpty) {
      System.err.println(s"[bench] FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Testable body (the shared test session must survive, so `main` owns the
    * session lifecycle, not this): the JSON line, and the names of the
    * queries, variants or `pipeline` that failed. */
  def execute(spark: SparkSession, sfDir: String, only: Set[String],
              ingestConfig: DatasetConfig): (String, Seq[String]) = {
    // per query: two discarded warmup runs (codegen/JIT/broadcast build — one
    // is not enough for regex- and loop-heavy compositions, whose C2 tiers
    // keep warming into the third execution), then MIN of 3 timed runs,
    // with an explicit GC between queries — a single long-lived JVM
    // accumulating 44 queries' codegen caches showed 30x-inflated readings on
    // arbitrary queries under best-of-2 (BENCH_r01/r02 outliers).
    def measure(name: String, fn: (SparkSession, String) => DataFrame)
        : (String, Option[Double], Option[String]) = {
      // queries with an internal persist seam (c02/c03 extraction) must
      // not serve later runs from an earlier run's cache: every run pays its
      // own full execution
      def attempt[A](body: => A): Either[Throwable, A] = {
        spark.catalog.clearCache()
        try Right(body) catch { case e: Throwable => Left(e) }
      }
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      def once(): Either[Throwable, Double] = attempt {
        val t0 = System.nanoTime()
        noop(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      // first warmup, discarded: counted, with the output rows piggy-backed
      // via observe() so the count costs no extra execution
      def counted(): Either[Throwable, String] = attempt {
        val (outRows, r) = Counters.measure(spark) {
          val obs = Observation()
          noop(fn(spark, sfDir).observe(obs, count(lit(1)).as("n")))
          obs.get("n").asInstanceOf[Long]
        }
        s"""{"jobs":${r.jobs.size},"input_rows":${r.inputRecords},""" +
          s""""shuffle_write_bytes":${r.shuffleWriteBytes},""" +
          s""""shuffle_write_records":${r.shuffleWriteRecords},""" +
          s""""shuffle_read_bytes":${r.shuffleReadBytes},"output_rows":$outRows}"""
      }
      // A failed query must NOT masquerade as a (bogus, fast) timing: it is
      // recorded as null in the JSON and fails the whole bench run (rc != 0)
      // so a regression can never read as a speedup.
      // MIN of 3, not median: instrumented runs showed the host stalling for
      // multi-minute windows that span consecutive runs (a 0.5s/round
      // component loop measured 59s+41s inside one stall, 0.4s right after),
      // so any order statistic but the min is poisoned by scheduler noise
      // unrelated to the engine. Min-of-warm-runs is the standard robust
      // estimator for CPU-bound local benchmarks on shared hosts.
      val result: Either[Throwable, (Double, String)] = for {
        volumes <- counted()
        _ <- once() // second warmup, discarded
        runs = (1 to 3).map(_ => once())
        best <- runs.collectFirst { case Left(e) => e }
          .toLeft(runs.collect { case Right(t) => t }.min)
      } yield (best, volumes)
      result.swap.foreach(e => System.err.println(s"[bench] $name failed: ${e.getMessage}"))
      spark.catalog.clearCache()
      System.gc()
      (name, result.toOption.map(_._1), result.toOption.map(_._2))
    }
    def selected(m: Map[String, (SparkSession, String) => DataFrame]) =
      m.toSeq.sortBy(_._1).filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    val results = selected(SparkEntry.queries).map { case (n, fn) => measure(n, fn) }
    val extra = selected(variants).map { case (n, fn) => measure(n, fn) }

    // best of 2 for the same host-stall reason as the per-query min above;
    // fresh dest per run (the direct-write path refuses to overwrite by
    // design). A failed run fails the pipeline record like a failed query.
    val pipeRuns = (1 to 2).map { _ =>
      val dest = java.nio.file.Files.createTempDirectory("graft-bench-pipe")
      val t0 = System.nanoTime()
      val ctx = graft.pipeline.IngestionPipeline.run(spark, ingestConfig, sfDir, dest.toString)
      val elapsed = (System.nanoTime() - t0) / 1e9
      graft.util.Scratch.deleteRecursively(dest) // hygiene: no /tmp leak per run
      if (ctx.failed) {
        System.err.println("[bench] pipeline failed: " +
          ctx.errors.map(e => s"${e.stage}:${e.severity}:${e.message}").mkString(" | "))
        None
      } else Some((elapsed, ctx.rowCount.getOrElse(0L)))
    }
    val pipe = if (pipeRuns.contains(None)) None else Some(pipeRuns.flatten.minBy(_._1))

    def num(d: Double): String = graft.util.Json.num(d)
    def obj(kvs: Seq[(String, Option[String])]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v.getOrElse("null") }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failed = (results ++ extra).collect { case (k, None, _) => k } ++
      (if (pipe.isEmpty) Seq("pipeline") else Nil)
    val jsonLine =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""queries":${obj(results.map(r => r._1 -> r._2.map(num)))},""" +
        s""""variants":${obj(extra.map(r => r._1 -> r._2.map(num)))},""" +
        s""""volumes":${obj((results ++ extra).map(r => r._1 -> r._3))},""" +
        s""""pipeline_rows":${pipe.map(_._2.toString).getOrElse("null")},""" +
        s""""pipeline_sec":${pipe.map(p => num(p._1)).getOrElse("null")},""" +
        s""""pipeline_rows_per_sec":${pipe.map(p =>
          num(if (p._1 > 0) p._2 / p._1 else 0.0)).getOrElse("null")},""" +
        s""""sf":"$sfDir"}"""
    (jsonLine, failed)
  }
}
