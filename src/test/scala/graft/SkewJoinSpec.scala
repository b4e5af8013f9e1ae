package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {

  /** Max per-task shuffle-read record count across every stage `body` runs —
    * the actual skew a shuffled join inflicts on its hottest task. */
  private def maxShuffleReadRecords(body: => Unit): Long =
    Counters.measure(spark)(body)._2.tasks.map(_.shuffleReadRecords).maxOption.getOrElse(0L)

  test("zipf fixture: salting bounds the hot task's shuffle read; plain join cannot") {
    val s = spark; import s.implicits._
    val hotN = 60000L; val tailN = 8000L; val salts = 16
    // zipf-shaped big side: one celebrity key carries 88% of all rows
    val big = spark.range(0, hotN + tailN)
      .select(when($"id" < hotN, 1L).otherwise(pmod($"id", lit(1000)) + 2).as("k"),
        $"id".as("row_id"))
    val small = spark.range(1, 1002).select($"id".as("sk"),
      concat(lit("v"), $"id").as("v"))
    val conf = spark.conf
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = conf.get("spark.sql.adaptive.enabled")
    val savedParts = conf.get("spark.sql.shuffle.partitions")
    // force both sides through the shuffle (the regime salting exists for:
    // small side too big to broadcast / AQE skew split not applicable) and
    // turn AQE off so ITS skew-mitigation doesn't mask the comparison
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val maxPlain = maxShuffleReadRecords {
        big.join(small, $"k" === $"sk").write.format("noop").mode("overwrite").save()
      }
      val maxSalted = maxShuffleReadRecords {
        SkewJoin.saltedInnerJoin(big, small, Seq("k" -> "sk"), salts, Seq("row_id"))
          .write.format("noop").mode("overwrite").save()
      }
      // plain: every hot row lands on ONE task; salted: spread over `salts`
      // (key,salt) buckets, so the hottest task carries ~1/salts of the hot key
      assert(maxPlain >= hotN,
        s"expected the plain join's hot task to read >= $hotN records, got $maxPlain")
      assert(maxSalted <= maxPlain / 4,
        s"salted max-task read $maxSalted not bounded vs plain $maxPlain")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      conf.set("spark.sql.adaptive.enabled", savedAqe)
      conf.set("spark.sql.shuffle.partitions", savedParts)
    }
  }

  test("salted inner join computes exactly the plain equi-join") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val salted = SkewJoin.saltedInnerJoin(li, o,
      Seq("l_orderkey" -> "o_orderkey"), salts = 4,
      saltBy = Seq("l_orderkey", "l_linenumber"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("a hot key's rows spread across multiple salt buckets, deterministically") {
    val s = spark; import s.implicits._
    val hot = (1L to 200L).map(i => (42L, i)).toDF("k", "row_id")
    val buckets = hot
      .select(pmod(xxhash64(col("k"), col("row_id")), lit(8)).as("salt"))
      .distinct().count()
    assert(buckets > 4, s"hot key only landed in $buckets salt buckets")
    // deterministic: the same operator run twice matches row-for-row
    val small = Seq((42L, "x")).toDF("sk", "v")
    val a = SkewJoin.saltedInnerJoin(hot, small, Seq("k" -> "sk"), 8, Seq("row_id"))
      .orderBy("row_id").collect()
    val b = SkewJoin.saltedInnerJoin(hot, small, Seq("k" -> "sk"), 8, Seq("row_id"))
      .orderBy("row_id").collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 200)
  }
}
