package graft

import graft.config.DatasetConfig
import graft.pipeline.{DatasetScheduler, IngestionPipeline}
import org.apache.spark.sql.SparkSession

import java.time.{ZonedDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Service entry point — the reference's Worker host
  * (`src/Worker/Program.cs:8-65` + `JobSchedulingService.cs`) as a CLI:
  * load every `dataset-*.json` from a directory, then either run each enabled
  * dataset once (`--once`, the smoke/CI mode) or start the per-dataset cron
  * scheduler for a bounded number of seconds (`--schedule N`).
  *
  * `--connections FILE` points at a JSON object of connection-string templates
  * keyed by `connectionStringKey` — the reference's appsettings
  * `ConnectionStrings` section (`src/Worker/appsettings.json:63-66`); `{vault:}`
  * placeholders resolve through the env-backed secret resolver.
  *
  * Usage:
  *   runMain graft.Runner --datasets DIR --lake DIR --dest DIR
  *     (--once | --schedule N) [--env ENV] [--connections FILE]
  */
object Runner {
  def main(args: Array[String]): Unit = {
    val spark = LakeSession.create()
    try execute(args, spark) finally spark.stop()
  }

  /** Testable body (the shared test session must survive, so `main` owns the
    * session lifecycle, not this). */
  def execute(args: Array[String], spark: SparkSession): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val datasetsDir = a.getOrElse("--datasets", sys.error("--datasets required"))
    val lakeDir = a.getOrElse("--lake", "/root/testdata/sf0.001")
    val destDir = a.getOrElse("--dest", sys.error("--dest required"))
    val env = a.getOrElse("--env", "Production")
    val connStrings: Map[String, String] = a.get("--connections").map { path =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      root.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)

    val datasets = DatasetConfig.loadDirectory(datasetsDir)
    println(s"[runner] loaded ${datasets.size} dataset configs " +
      s"(${datasets.count(_.enabled)} enabled)")

    def runOne(d: DatasetConfig): Unit = {
      val ctx = IngestionPipeline.run(spark, d, lakeDir, destDir, env,
        connectionStrings = connStrings)
      val status = if (ctx.failed) "FAILED" else "OK"
      val errs = if (ctx.errors.isEmpty) ""
        else ctx.errors.map(e => s"${e.stage}:${e.severity}:${e.message}").mkString(" | ")
      println(s"[runner] ${d.datasetId}: $status rows=${ctx.rowCount.getOrElse(-1L)} " +
        s"file=${ctx.writtenPath.getOrElse("-")} " +
        s"ctl=${ctx.ctl.map(_.checksum.take(12)).getOrElse("-")} " +
        s"stages=${ctx.metrics.map(m => s"${m.stage}=${m.durationMs}ms").mkString(",")} $errs")
    }

    if (a.contains("--schedule")) {
      val seconds = a("--schedule").toInt
      val sched = new DatasetScheduler(datasets, runOne,
        () => ZonedDateTime.now(ZoneOffset.UTC))
      println(s"[runner] scheduling ${sched.schedules.size} datasets for ${seconds}s: " +
        sched.schedules.keys.mkString(", "))
      sched.start()
      Thread.sleep(seconds * 1000L)
      sched.stop()
      println("[runner] scheduler stopped")
    } else {
      datasets.filter(_.enabled).foreach(runOne)
    }
  }
}
