package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the name filter is a dev tool;
    // the driver always passes two args and gets every query.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = LakeSession.create()
    new java.io.File(outDir).mkdirs()
    val entries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    // a query that fails is named at the end and fails the run (rc 1), after
    // every other dump and oracle_sql.json are written: a missing dump must
    // never shrink the oracle gate silently
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def dump(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed.add(name)
      }
    // SPARK_GRAFT_VERIFY_PAR > 1 submits that many queries concurrently into
    // the one SparkSession (each writes its own directory, so results are
    // independent) — a dev knob that cuts the sf1 campaign's dump wall, where
    // single heavy dedup queries otherwise serialize behind dozens of small
    // ones. The driver's gate keeps the default sequential path.
    // Session-state safety under parallelism: the only session-global write
    // any query performs is Lake.registerAll's temp views. Register them HERE,
    // once, before the pool — the per-query registerAll calls are then no-ops
    // via its (session, dir) memo, so pool threads never mutate shared state.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "1").toInt
    if (par > 1) graft.sources.Lake.registerAll(spark, sfDir)
    if (par <= 1) entries.foreach { case (name, fn) => dump(name, fn) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val futures = entries.map { case (name, fn) =>
          pool.submit(new Runnable { def run(): Unit = dump(name, fn) })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
    }
    // Full JSON string escape (graft.util.Json.str) — a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load fail
    // and silently zero the round's correctness.
    def q(s: String): String = graft.util.Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failed.isEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.asScala.toSeq.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
