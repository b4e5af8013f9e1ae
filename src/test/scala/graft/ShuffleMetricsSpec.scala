package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape tests pin STRUCTURE; this spec pins actual shuffle VOLUME via
  * task metrics — the difference between "the plan looks right" and "the
  * bytes really don't move". */
class ShuffleMetricsSpec extends SparkSpec {

  /** Total shuffle-write bytes of one action. */
  private def shuffleWriteBytes(df: DataFrame): Long =
    Counters.measure(spark)(df.write.format("noop").mode("overwrite").save())
      ._2.shuffleWriteBytes

  test("heap top-k aggregate shuffles a fraction of the window formulation") {
    // same question (top-3 lineitems per returnflag): the window plan must
    // shuffle every row; the heap aggregate's map-side combine sends at most
    // k rows per group per partition to the exchange.
    val windowBytes = shuffleWriteBytes(
      SparkEntry.queries("q05_window_topn")(spark, sf0001))
    val heapBytes = shuffleWriteBytes(
      SparkEntry.queries("o05_topk_per_group")(spark, sf0001))
    assert(heapBytes > 0 && windowBytes > 0)
    assert(heapBytes * 5 < windowBytes,
      s"heap aggregate shuffled $heapBytes B vs window's $windowBytes B — " +
        "map-side combine is not doing its job")
  }

  test("fingerprint dedup shuffle stays near the distinct payload, not raw size") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 2000 copies of 10 distinct ~1KB documents: partial aggregation must
    // collapse duplicates BEFORE the exchange, so shuffle volume tracks the
    // 10 distinct docs (~10KB), not the 2MB raw corpus.
    val doc = "lorem ipsum dolor sit amet " * 40 // ~1KB
    val docs = (1 to 2000).map(i => (i.toLong, s"$doc${i % 10}")).toDF("doc_id", "text")
    val rawBytes = 2000L * doc.length
    val got = shuffleWriteBytes(
      graft.operators.Dedup.exactGroups(docs, "doc_id", "text"))
    assert(got > 0)
    assert(got < rawBytes / 20,
      s"dedup shuffled $got B on a ${rawBytes} B corpus with 10 distinct docs")
  }

  test("prefix filtering shrinks the ngram-jaccard candidate exchange vs " +
       "full-posting candidates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.functions.{HashExpressions => H, TextFunctions => T}
    // duplicate-dense corpus at a high threshold: prefix indexing keeps
    // |s| - ceil(0.8|s|) + 1 ≈ 20% of postings, so the candidate self-join's
    // exchange must shrink hard vs exploding the full sets
    val words = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rnd = new scala.util.Random(99)
    val docs = (0 until 300).map { i =>
      val base = List.fill(10)(words(rnd.nextInt(words.size)))
      val w = base.toBuffer; w(rnd.nextInt(w.length)) = words(rnd.nextInt(words.size))
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    val threshold = 0.8
    val shipped = shuffleWriteBytes(
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 2, threshold = threshold, maxDocFreq = 1000000))
    // the pre-prefix formulation: every element of every set is a posting
    val sets = docs.select(col("doc_id").as("id"),
      H.hashed_sorted_set(T.wordShingles(col("text"), 2)).as("sh"))
      .filter(size(col("sh")) > 0)
    val full = sets.select(col("id"), explode(col("sh")).as("s"))
    val naive = shuffleWriteBytes(
      full.select(col("s"), col("id").as("id_a"))
        .join(full.select(col("s"), col("id").as("id_b")), "s")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct())
    assert(shipped > 0 && naive > 0)
    assert(shipped * 2 < naive,
      s"prefix-filtered pipeline shuffled $shipped B vs full-posting " +
        s"candidates' $naive B — the lossless prefix isn't pruning")
  }

  test("contamination sweep: corpus grams never cross an exchange to meet eval") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val evalDf = docs.where(col("doc_id") % 97 === 0)
    val total = shuffleWriteBytes(
      graft.operators.Contamination.overlap(docs, evalDf, "doc_id", "text", n = 3))
    // the only exchange is the final per-doc count aggregate over (doc_id,
    // gram_h) hits — a few KB; corpus gram text (hundreds of KB) must not move
    val corpusTextBytes = docs.agg(sum(length(col("text")))).head().getLong(0)
    assert(total < corpusTextBytes / 10,
      s"contamination shuffled $total B vs $corpusTextBytes B of corpus text")
  }

  test("winnowed fingerprint index shuffles ~2/(w+1) of the every-gram index") {
    import org.apache.spark.sql.functions._
    import graft.functions.{HashExpressions => H}
    // same normalization, same hash, same downstream shape (group by fp) —
    // the only difference is winnowing's window-min selection, so the byte
    // ratio IS the selection density (theory 2/(w+1) = 0.4 at w = 4)
    val docs = graft.sources.Lake.table(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val winnowed = graft.operators.Winnowing
      .fingerprints(docs, "doc_id", "text", k = 5, w = 4)
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val everyGram = docs.select(col("doc_id"), norm.as("_n"))
      .where(length(col("_n")) >= 5)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), length(col("_n")) - 4),
        i => H.md5Hash60(col("_n").substr(i, lit(5))))).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val wb = shuffleWriteBytes(winnowed)
    val ab = shuffleWriteBytes(everyGram)
    assert(wb > 0 && ab > 0)
    // bytes understate the row ratio: the every-gram side's repeats combine
    // map-side while winnowed mins are mostly distinct (measured 0.51x here
    // vs the 0.40 row-density theory) — pin the saving with headroom
    assert(wb * 5 < ab * 3 && wb * 10 > ab,
      s"winnowed index shuffled $wb B vs every-gram $ab B — expected ~0.5x")
  }
}
