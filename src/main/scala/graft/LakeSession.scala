package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession constructor for every main, dev tool and spec: local
  * mode on SPARK_GRAFT_CPUS threads (default: every processor the JVM sees),
  * with the confs the lake needs. */
object LakeSession {

  def create(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark can only read it as long
      // (graft.sources.Lake converts back to TimestampType at micros precision)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
