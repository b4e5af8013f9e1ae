package perfbench

import graft.config.DatasetConfig
import graft.pipeline.IngestionPipeline
import graft.pipeline.IngestionPipeline.RunContext
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.{ZoneOffset, ZonedDateTime}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, warm up, then a closed loop of
  * iterations of one workload for `--seconds` of timed work, with every
  * iteration's outputs checked outside the timed window. Writes a raw record
  * (samples and counters, no statistics) as JSON to `--out`.
  *
  * Args: --workload ingest|lake_query --seed N --seconds S --warmup ITERATIONS
  *       --trace 0|1
  *       --inputs DIR (lake/ and configs/ from gen.py) --work DIR --out FILE
  *       --cores N */
object Harness {
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  final case class Opts(workload: String, seed: Long, seconds: Double, warmup: Int,
                        trace: Boolean, inputs: String, work: String, out: String,
                        cores: Int) {
    def lake: String = s"$inputs/lake"
  }

  /** What one timed iteration reports. */
  final case class Iter(wallS: Double, ops: Seq[(String, Double)], items: Long,
                        landedRows: Long, landedBytes: Long)

  final class Record {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val spans = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Any]]]
    var attempted = 0L
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("warmup", "1").toInt, kv("trace") == "1", kv("inputs"), kv("work"),
      kv("out"), kv("cores").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark.sparkContext)
    if (o.trace) {
      spark.sparkContext.addSparkListener(trace)
      spark.listenerManager.register(trace.queries)
      spark.streams.addListener(trace.streams)
    }
    val rec = new Record
    def workload(name: String, o: Opts): Workload = name match {
      case "ingest" => new Ingest(spark, o, trace, rec)
      case "lake_query" => new LakeQuery(spark, o, trace, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (o.workload.contains(",")) {
      // class-loading run for the build's class-data-sharing archive: set up
      // and warm up each listed workload once, measure nothing
      o.workload.split(",").foreach { name =>
        val w = workload(name, o.copy(work = s"${o.work}/$name"))
        w.setup()
        w.iteration(0)
      }
      spark.stop()
      return
    }
    val w = workload(o.workload, o)
    val sessionReadyMs = System.currentTimeMillis()
    w.setup()
    val setupDoneMs = System.currentTimeMillis()
    // `--warmup` untimed iterations; the first one's outputs are the reference
    var i = 0
    while (i < math.max(1, o.warmup)) {
      w.iteration(i)
      i += 1
    }
    val firstOpMs = System.currentTimeMillis()
    var timed = 0.0
    var k = 0
    while (timed < o.seconds || (o.trace && k < 2)) {
      // in a traced run every other iteration runs with tracing off, so the
      // record carries the tracing overhead (traced minus untraced pass)
      trace.full = o.trace && k % 2 == 0
      val cpu0 = processCpuNs()
      val it = w.iteration(i)
      rec.passes += Map("wall_s" -> it.wallS, "cpu_s" -> (processCpuNs() - cpu0) / 1e9,
        "traced" -> trace.full, "items" -> it.items,
        "landed_rows" -> it.landedRows, "landed_bytes" -> it.landedBytes)
      it.ops.foreach { case (n, s) => rec.ops += Map("name" -> n, "s" -> s, "traced" -> trace.full) }
      timed += it.wallS
      i += 1
      k += 1
    }
    trace.full = false
    val verify = w.verify()
    val out = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "setup_done_ms" -> setupDoneMs,
      "first_op_ms" -> firstOpMs, "timed_s" -> timed,
      "attempted" -> rec.attempted, "failures" -> rec.failures.toSeq,
      "ops" -> rec.ops.toSeq, "passes" -> rec.passes.toSeq,
      "spans" -> rec.spans.map { case (k, v) => k -> v.toSeq }.toMap,
      "rss_peak_kb" -> Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L),
      "verify" -> verify)
    Files.writeString(Paths.get(o.out), Json.enc(out))
    spark.stop()
  }

  /** CPU time of every thread of this JVM: tasks, driver, JIT and GC. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  // ---------------------------------------------------------------- common

  abstract class Workload(val spark: SparkSession, val o: Opts, val trace: Trace,
                          val rec: Record) {
    def setup(): Unit = ()
    def iteration(i: Int): Iter
    def verify(): Map[String, Any] = Map.empty

    /** Fresh per-iteration scratch directory under the run's work dir. */
    def iterDir(i: Int): Path = {
      val d = Paths.get(o.work, s"iter-$i")
      deleteTree(d)
      Files.createDirectories(d)
    }

    /** Time `body` as span `key`; with tracing on, record its counters. */
    def span[T](key: String)(body: => T): T = {
      if (!trace.full) return body
      trace.begin(key)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        val a = trace.end()
        val sample = Map[String, Any](
            "wall_s" -> wall, "window" -> Seq(t0, t1),
            "intervals" -> a.intervals.map(iv => Seq(iv._1, iv._2)).toSeq,
            "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
            "task_cpu_s" -> a.cpuNs / 1e9, "task_run_s" -> a.runMs / 1e3,
            "gc_s" -> a.gcMs / 1e3, "shuffle_write_bytes" -> a.shuffleWrite,
            "spill_bytes" -> a.spill, "bytes_written" -> a.bytesWritten,
            "exchanges" -> a.exchanges, "broadcast_bytes" -> a.broadcastBytes,
            "scan_files" -> a.scanFiles, "scan_bytes" -> a.scanBytes,
            "batches" -> a.batches, "input_rows" -> a.inputRows,
            "state_rows" -> a.stateRows, "state_memory_bytes" -> a.stateMemory,
            "add_batch_s" -> a.addBatchMs / 1e3)
        rec.spans.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += sample
      }
    }

    /** Add a counter the harness measured itself to the span's last sample. */
    def annotate(key: String, counter: String, value: Long): Unit =
      if (trace.full) rec.spans.get(key).foreach(b => b(b.size - 1) = b.last + (counter -> value))

    def sizeOf(path: String): Long = Files.size(Paths.get(path.stripPrefix("file:")))

    /** Where a dataset run's output and its CTL ended up: the upload
      * destination, or the snapshot version for a merge-publish run. */
    def landedData(ctx: RunContext): Path = Paths.get(ctx.writtenPath.get.stripPrefix("file:"))
    def landedCtl(ctx: RunContext): Path =
      if (ctx.config.merge.enabled) Paths.get(ctx.ctlPath.get.stripPrefix("file:"))
      else landedData(ctx).resolveSibling(
        ctx.dataFileName.get.replaceAll("\\.parquet$", "") + ".ctl")

    /** Check a landed parquet file (or snapshot directory) against its CTL:
      * row count from the parquet footers and SHA-256 recomputed here.
      * Returns (content digest, rows, bytes). */
    def checkLanded(label: String, data: Path, ctl: Path): (String, Long, Long) = {
      val files =
        if (Files.isDirectory(data))
          Files.list(data).iterator().asScala.filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") && n.endsWith(".parquet")
          }.toSeq.sortBy(_.getFileName.toString)
        else Seq(data)
      val conf = spark.sparkContext.hadoopConfiguration
      val rows = files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
      val digest =
        if (Files.isDirectory(data)) sha256(files.map(sha256File).mkString.getBytes("UTF-8"))
        else sha256File(data)
      val fields = Files.readAllLines(ctl).get(1).split(",")
      if (fields(0).toLong != rows)
        rec.failures += s"$label: CTL RecordCount ${fields(0)} but the parquet holds $rows rows"
      if (fields(2) != digest)
        rec.failures += s"$label: CTL checksum ${fields(2)} but the file hashes to $digest"
      (digest, rows, files.map(Files.size).sum)
    }

    private val reference = mutable.Map.empty[String, String]

    /** Iteration 0 (the first warm-up) sets each output's digest; later
      * iterations must land byte-identical outputs. */
    def sameAsFirst(i: Int, label: String, digest: String): Unit =
      if (i == 0) reference(label) = digest
      else if (!reference.get(label).contains(digest))
        rec.failures += s"iteration $i: $label digest $digest differs from the first iteration's"

    def timedOp[T](body: => T): (T, Double) = {
      rec.attempted += 1
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
  }

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
  def sha256File(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  // ---------------------------------------------------------------- ingest

  /** The reference's own traffic: every `dataset-*.json` run back to back
    * through the public pipeline stages, the merge-publish dataset twice. */
  final class Ingest(spark: SparkSession, o: Opts, trace: Trace, rec: Record)
      extends Workload(spark, o, trace, rec) {
    private val now = ZonedDateTime.of(2026, 1, 1, 0, 0, 0, 0, ZoneOffset.UTC)

    def iteration(i: Int): Iter = {
      val dir = iterDir(i)
      val dest = dir.resolve("dest").toString
      val landed = mutable.ArrayBuffer.empty[(String, RunContext)]
      val t0 = System.nanoTime()
      val cfgs = span("ingest.config.load")(DatasetConfig.loadDirectory(s"${o.inputs}/configs"))
      val runs = cfgs.flatMap(c => if (c.merge.enabled) Seq(c, c) else Seq(c))
      val ops = runs.zipWithIndex.map { case (cfg, n) =>
        val (ctx, s) = timedOp(runOne(cfg, dest))
        landed += ((s"${cfg.datasetId}#$n", ctx))
        (cfg.datasetId, s)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // outside the timed window: check every landed output, then delete
      var rows, bytes = 0L
      landed.foreach { case (label, ctx) =>
        if (ctx.errors.nonEmpty)
          rec.failures += s"$label: ${ctx.errors.map(e => s"${e.stage}: ${e.message}").mkString("; ")}"
        else {
          val (d, r, b) = checkLanded(label, landedData(ctx), landedCtl(ctx))
          sameAsFirst(i, label, d)
          rows += r
          bytes += b
        }
      }
      deleteTree(dir)
      Iter(wall, ops, rows, rows, bytes)
    }

    def runOne(cfg: DatasetConfig, dest: String): RunContext = {
      var ctx = RunContext(cfg, "Production", now)
      ctx = span("ingest.pipeline.extract")(IngestionPipeline.extract(spark, o.lake)(ctx))
      ctx = span("ingest.pipeline.transform")(IngestionPipeline.transform(ctx))
      if (cfg.merge.enabled)
        span("ingest.sinks.merge_write")(IngestionPipeline.mergeWrite(dest)(ctx))
      else {
        ctx = span("ingest.sinks.parquet_write")(IngestionPipeline.write(dest)(ctx))
        ctx = span("ingest.sinks.ctl")(IngestionPipeline.ctl(dest)(ctx))
        annotate("ingest.sinks.ctl", "bytes_copied", ctx.ctlPath.map(sizeOf).getOrElse(0L))
        ctx = span("ingest.sinks.upload")(IngestionPipeline.upload(dest)(ctx))
        annotate("ingest.sinks.upload", "bytes_copied",
          Files.size(landedData(ctx)) + Files.size(landedCtl(ctx)))
        ctx
      }
    }
  }

  // ---------------------------------------------------------------- lake_query

  /** The read side: a seed-ordered closed-loop mix of the repo's queries
    * drained through the noop sink, plus seeded range-filter reads of parquet
    * the ingest configs landed once during set-up. */
  final class LakeQuery(spark: SparkSession, o: Opts, trace: Trace, rec: Record)
      extends Workload(spark, o, trace, rec) {
    val mix = Seq("q04_join_multiway", "q39_map_funcs", "o04_interval_overlap",
      "d04_simhash_pairs", "d05_ngram_jaccard", "d08_quality_survivors",
      "s06_ann_ivfpq_residual", "st04_stream_join")
    private val queries = graft.SparkEntry.queries
    private val rng = new scala.util.Random(o.seed)
    /** (name, landed file, key column, lo, hi) */
    private var reads = Seq.empty[(String, String, String, Long, Long)]
    private var order = Seq.empty[String]
    private var landedRows, landedBytes = 0L

    override def setup(): Unit = {
      val landed = Paths.get(o.work, "landed")
      val ingest = new Ingest(spark, o, trace, rec)
      DatasetConfig.loadDirectory(s"${o.inputs}/configs")
        .filter(c => Set("lineitem-ship", "orders-daily")(c.datasetId))
        .foreach { c =>
          val ctx = ingest.runOne(c, landed.toString)
          val (_, rows, bytes) = checkLanded(c.datasetId, landedData(ctx), landedCtl(ctx))
          landedRows += rows
          landedBytes += bytes
        }
      def file(id: String): String = Files.list(landed.resolve(s"upload/$id")).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get.toString
      reads = Seq(("lineitem-ship", "l_orderkey", 15000L), ("orders-daily", "o_orderkey", 15000L))
        .flatMap { case (id, key, n) =>
          (0 until 2).map { r =>
            val lo = rng.nextInt(n.toInt * 3 / 4).toLong
            (s"range_read_${id}_$r", file(id), key, lo, lo + n / 10)
          }
        }
      order = rng.shuffle(mix ++ reads.map(_._1))
    }

    private def run(name: String): DataFrame =
      reads.find(_._1 == name) match {
        case Some((_, f, key, lo, hi)) => spark.read.parquet(f).where(col(key).between(lo, hi))
        case None => queries(name)(spark, o.lake)
      }

    def iteration(i: Int): Iter = {
      val t0 = System.nanoTime()
      val ops = order.map { name =>
        spark.catalog.clearCache()
        val key = if (name.startsWith("range_read")) "lake_query.sources.range_read"
          else if (name == "st04_stream_join") "lake_query.streaming.st04"
          else s"lake_query.$name"
        try {
          // the first pass lands each result for the oracle compare; the
          // others drain them through the noop sink
          val (_, s) =
            if (i > 0) timedOp(span(key)(
              run(name).write.format("noop").mode("overwrite").save()))
            else timedOp(run(name).coalesce(1).write.mode("overwrite")
              .parquet(verifyDir.resolve(name).toString))
          (name, s)
        } catch {
          case e: Exception =>
            rec.failures += s"$name: ${e.getMessage}"
            (name, Double.NaN)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // the streaming query leaves its sink and checkpoint in scratch dirs
      Files.list(Paths.get(System.getProperty("java.io.tmpdir"))).iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-")).foreach(deleteTree)
      Iter(wall, ops.filterNot(_._2.isNaN), ops.size, landedRows, landedBytes)
    }

    private val verifyDir = Paths.get(o.work, "verify")

    /** Where the warm-up pass landed each result, and the oracle SQL for each
      * (the caller runs the compare with DuckDB). */
    override def verify(): Map[String, Any] = {
      val oracles = graft.SparkEntry.oracleSql
      Map("dir" -> verifyDir.toString,
        "oracle_sql" -> (mix.map(q => q -> oracles(q)) ++ reads.map { case (n, f, k, lo, hi) =>
          n -> s"SELECT * FROM '$f' WHERE $k BETWEEN $lo AND $hi"
        }).toMap)
    }
  }
}

/** Minimal JSON encoder for the raw record. */
object Json {
  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(enc).mkString("[", ",", "]")
    case other => enc(other.toString)
  }
}
