package graft

/** Dev tool: time individual SparkEntry queries standalone (same noop-sink
  * materialization as [[Bench]]) and dump their formatted plans — for chasing
  * bench outliers without rerunning the whole suite.
  *
  * Usage: Test/runMain graft.TimeQuery <sfDir> <query>... [-n reps] [-explain]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.sliding(2).collectFirst { case Array("-n", n) => n.toInt }.getOrElse(4)
    val explain = args.contains("-explain")
    val names = args.drop(1).filterNot(a => a.startsWith("-") || a.forall(_.isDigit))
    val spark = LakeSession.create()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      val times = (1 to reps).map { _ =>
        spark.catalog.clearCache() // no cross-run cache serving (persist seams)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $name: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    }
    spark.stop()
  }
}
