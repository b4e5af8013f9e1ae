package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool (r13 optimization round): stage-by-stage wall decomposition of
  * the composed crawl pipelines (c02/c03/c04) — which stage of the ONE lazy
  * plan actually costs, measured by materializing successively longer
  * prefixes of the chain to the noop sink. Each prefix is timed in its own
  * fresh-cache run, min of `reps`. Usage:
  *   Test/runMain graft.OptProbe <sfDir> [reps]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = LakeSession.create()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(label: String)(mk: => DataFrame): Unit = {
      val ts = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(label)
        noop(mk)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[opt] $label%-34s min=${ts.min}%6.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }

    val pages = graft.sources.Lake.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        concat(
          lit("<html><body><nav><a href=\"/\">home</a> " +
            "<a href=\"/a\">about</a> <a href=\"/c\">contact</a></nav><p>"),
          col("text"),
          lit("</p><div class=\"foot\"><a href=\"/t\">terms</a> " +
            "<a href=\"/p\">privacy</a> all rights reserved</div>" +
            "</body></html>")).as("html"))

    def ext0 = graft.operators.Boilerplate.extract(pages, "doc_id", "html",
        carry = Seq("lang", "source"))
      .select(col("doc_id"), col("lang"), col("source"), col("extracted_text"))

    // --- dedup: decompose d07/d08 — shingling vs pairs vs CC vs scoring ---
    if (args.contains("--dedup")) {
      import graft.functions.{HashExpressions => H, TextFunctions => T}
      val docs = graft.sources.Lake.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      def shingled = docs
        .select(col("doc_id").as("id"),
          H.hashed_sorted_set(T.wordShingles(col("text"), 3)).as("shingles"))
        .filter(size(col("shingles")) > 0)
      time("d0x shingled only")(shingled)
      def pairs = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id",
        "text", shingleN = 3, threshold = 0.4)
      time("d0x pairs (d05 shape, t=0.4)")(pairs)
      time("d07 full (pairs+CC)")(
        graft.operators.Components.clusters(pairs, "id_a", "id_b"))
      time("d08 full")(SparkEntry.queries("d08_quality_survivors")(spark, sfDir))
      val np = pairs.count()
      println(s"[opt] d07 pair count at t=0.4: $np")
    }

    // --- kn: decompose knTrigramScore — model build vs scoring join ---
    if (args.contains("--kn")) {
      val docs = graft.sources.Lake.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      def tris = docs.select(col("doc_id").as("id"),
          explode(graft.functions.TextStatsExpr.word_triples(col("text"))).as("t"))
        .select(col("id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
          col("t.w3").as("w3"))
      def model = {
        val c3 = tris.groupBy(col("w1"), col("w2"), col("w3"))
          .agg(count(lit(1)).as("c3"))
        val ctx = c3.groupBy(col("w1"), col("w2"))
          .agg(sum(col("c3")).as("c2"), count(lit(1)).as("n3"))
        val t2 = c3.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("t23"))
        val mid = c3.groupBy(col("w2")).agg(count(lit(1)).as("midc"))
        val ty2 = t2.groupBy(col("w2")).agg(count(lit(1)).as("ty2"))
        val uni = t2.groupBy(col("w3")).agg(count(lit(1)).as("u"))
        val tot = t2.agg(count(lit(1)).as("tt"))
        val d = lit(0.75)
        val p1 = col("u").cast("double") / col("tt")
        val p2 = (greatest(col("t23").cast("double") - d, lit(0.0)) +
          d * col("ty2") * p1) / col("midc")
        val p3 = (greatest(col("c3").cast("double") - d, lit(0.0)) +
          d * col("n3") * p2) / col("c2")
        c3.join(ctx, Seq("w1", "w2"))
          .join(t2, Seq("w2", "w3"))
          .join(mid, Seq("w2")).join(ty2, Seq("w2")).join(uni, Seq("w3"))
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("w3"),
            round(log(p3), 9).cast("decimal(20,9)").as("lp"))
      }
      time("kn tris explode only")(tris)
      time("kn c3 agg only")(tris.groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")))
      time("kn model only")(model)
      time("kn full (t24)")(graft.operators.Quality.knTrigramScore(
        docs, "doc_id", "text"))
      val mrows = model.count()
      println(s"[opt] kn model rows: $mrows")
      time("t15 full (lmScore)")(graft.operators.Quality.lmScore(
        docs, "doc_id", "text"))
    }

    if (!args.contains("--st") && !args.contains("--c03") &&
        !args.contains("--kn") && !args.contains("--dedup")) {
    time("extract")(ext0)
    time("extract+langid")({
      val ext = ext0
      graft.operators.LangId.classify(
        ext.where(col("doc_id") % 5 =!= 0), ext, "doc_id", "extracted_text", "lang")
    })
    time("langid over persisted ext")({
      val ext = ext0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ext.count() // force the cache so langid pays only its own work
      graft.operators.LangId.classify(
        ext.where(col("doc_id") % 5 =!= 0), ext, "doc_id", "extracted_text", "lang")
    })
    time("kn score over persisted ext")({
      val ext = ext0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ext.count()
      graft.operators.Quality.knTrigramScore(ext, "doc_id", "extracted_text")
    })
    time("quality flags over persisted ext")({
      val ext = ext0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ext.count()
      graft.operators.Quality.flags(ext, "extracted_text")
    })
    time("c02 full")(
      graft.operators.CrawlPipeline.curate(pages, "doc_id", "html",
        "lang", "source",
        labeledPred = col("doc_id") % 5 =!= 0, targetLangs = Seq("en"),
        dsirTargetPred = col("doc_id") % 13 === 0,
        sampleK = 100, packBudget = 512L, persistExtracted = true))
    time("c04 full")(
      graft.operators.CrawlPipeline.curate(pages, "doc_id", "html",
        "lang", "source",
        labeledPred = col("doc_id") % 5 =!= 0, targetLangs = Seq("en"),
        dsirTargetPred = col("doc_id") % 13 === 0,
        sampleK = 100, packBudget = 512L, persistExtracted = true,
        knHeadFrac = Some(0.8), persistKn = true))
    }

    // --- st04/st08: HDFS-backed vs RocksDB state store (measurement only;
    //     outputs compared for identity) ---
    if (args.contains("--st")) {
      val providers = Seq(
        "default" -> None,
        "rocksdb" -> Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      for (q <- Seq("st04_stream_join", "st08_stream_outer_join");
           (label, prov) <- providers) {
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = spark.conf.getOption(key)
        prov.foreach(spark.conf.set(key, _))
        try {
          val ts = (1 to reps).map { _ =>
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            spark.sparkContext.setJobDescription(s"$q/$label")
            noop(SparkEntry.queries(q)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }
          println(f"[opt] $q/$label%-44s min=${ts.min}%6.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }

    // --- c03: per-JOB wall breakdown of one full run ---
    if (args.contains("--c03")) {
      spark.catalog.clearCache()
      // drop the stale thread-local description from the last time() call so
      // each job reports its own callSite
      spark.sparkContext.setJobDescription(null)
      val fn = SparkEntry.queries("c03_incremental_crawl")
      val t0 = System.nanoTime()
      val (_, rec) = Counters.measure(spark)(noop(fn(spark, sfDir)))
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[opt] c03 wall: $wall%.2f s, jobs: ${rec.jobs.size}")
      rec.jobs.foreach { j =>
        val label = if (j.description.nonEmpty) j.description else j.callSite
        println(f"[opt]   job ${j.id}%3d ${j.wallMs / 1e3}%6.2f s  $label")
      }
    }
    spark.stop()
  }
}
