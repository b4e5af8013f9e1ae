package graft

import graft.operators.LangId
import graft.sources.Lake
import org.apache.spark.sql.functions._

class LangIdSpec extends SparkSpec {
  import spark.implicits._

  // three synthetic "languages" with genuinely distinct character
  // distributions (the lake's planted lang label sits on shared-vocabulary
  // text, so discrimination has to be proven on a fixture)
  private val vocabs = Map(
    "de" -> Vector("der", "die", "das", "und", "nicht", "schnell", "zug",
      "strasse", "wasser", "uber"),
    "en" -> Vector("the", "quick", "brown", "fox", "jumps", "lazy", "dog",
      "with", "very", "through"),
    "es" -> Vector("el", "la", "los", "una", "que", "rapido", "perro",
      "sobre", "muy", "calle"))

  private def doc(lang: String, seed: Int, len: Int = 12): String = {
    val rnd = new scala.util.Random(seed)
    val v = vocabs(lang)
    Seq.fill(len)(v(rnd.nextInt(v.size))).mkString(" ")
  }

  test("discriminates distinct char distributions: >= 90% held-out accuracy") {
    val train = (for (l <- vocabs.keys.toSeq.sorted; i <- 0 until 30)
      yield (l, doc(l, i))).toDF("lang", "text")
    val test = (for ((l, li) <- vocabs.keys.toSeq.sorted.zipWithIndex;
                     i <- 0 until 20)
      yield ((li * 100 + i).toLong, l, doc(l, 1000 + i))).toSeq
    // train on the labeled train set, score the held-out docs
    val pred = LangId.classify(train,
        test.map(t => (t._1, t._3)).toDF("doc_id", "text"),
        "doc_id", "text", "lang")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(pred.size == test.size, "every held-out doc must be scored")
    val acc = test.count { case (id, l, _) => pred.get(id).contains(l) }
      .toDouble / test.size
    assert(acc >= 0.9, s"held-out accuracy $acc")
  }

  test("matches an independent driver-side NB reference with the same " +
       "quantization on random corpora") {
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val langs = Vector("aa", "bb", "cc")
      def w() = ("abcdef" (rnd.nextInt(6)).toString * (1 + rnd.nextInt(3)))
      val train = (0 until 30).map { i =>
        (langs(i % 3), Seq.fill(4 + rnd.nextInt(4))(w()).mkString(" "))
      }
      val docs = (0 until 20).map { i =>
        (i.toLong, Seq.fill(3 + rnd.nextInt(5))(w()).mkString(" "))
      }
      val got = LangId.classify(train.toDF("lang", "text"),
          docs.toDF("doc_id", "text"), "doc_id", "text", "lang")
        .select("doc_id", "lang_pred", "score")
        .as[(Long, String, Double)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      val want = nbRef(train, docs, 3)
      assert(got == want)
    }
  }

  test("tie rule: identical evidence for two languages picks the " +
       "lexicographically smaller one") {
    // two languages trained on IDENTICAL text -> every doc ties exactly
    val train = Seq(("zz", "abc abc abc"), ("aa", "abc abc abc"))
      .toDF("lang", "text")
    val docs = Seq((1L, "abc"), (2L, "xyz")).toDF("doc_id", "text")
    val pred = LangId.classify(train, docs, "doc_id", "text", "lang")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(pred == Map(1L -> "aa", 2L -> "aa"))
  }

  test("docs shorter than n normalized chars are not scored") {
    val train = Seq(("en", "some training text here")).toDF("lang", "text")
    val docs = Seq((1L, "ab"), (2L, "  a  "), (3L, "abcd"))
      .toDF("doc_id", "text")
    val got = LangId.classify(train, docs, "doc_id", "text", "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(3L))
  }

  test("plan: scoring is a narrow map over the corpus — no join of any " +
       "kind (the model rides a broadcast handle inside the compiled " +
       "scorer, r13 opt)") {
    val d = Lake.table(spark, sf0001, "documents")
    val plan = LangId.classify(d.where(col("doc_id") % 5 =!= 0), d,
        "doc_id", "text", "lang")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never be sort-merge joined:\n$plan")
    assert(!plan.contains("Join"),
      s"scoring must be a narrow map — no join at all:\n$plan")
    assert(plan.contains("lang_gram_score"), plan)
  }

  test("shuffle: the scoring exchange carries docs rows, not docs×L — " +
       "record growth per extra doc is ~1, independent of L") {
    // same model both runs (identical labeled set, L = 3); docs 1x vs 10x.
    // The shuffle-record DELTA isolates the corpus-scaling exchange: model
    // exchanges (counts/totals/present) are identical across runs, so the
    // delta is the per-doc partial-sum rows. The replaced per-(doc, lang)
    // formulation shuffled L rows per doc here — the delta pins ~1.
    val train = (for (l <- vocabs.keys.toSeq.sorted; i <- 0 until 30)
      yield (l, doc(l, i))).toDF("lang", "text")
    def docsDf(m: Int) = (0 until m).map(i =>
      (i.toLong, doc(vocabs.keys.toSeq.sorted.apply(i % 3), 5000 + i))).toDF("doc_id", "text")
    def records(m: Int): Long = Counters.measure(spark) {
      LangId.classify(train, docsDf(m), "doc_id", "text", "lang")
        .write.format("noop").mode("overwrite").save()
    }._2.shuffleWriteRecords
    val base = 400
    val delta = records(base * 10) - records(base)
    val extraDocs = base * 9
    // r13 opt: the narrow-map scorer removed the per-doc partial-sum
    // exchange entirely — the previous pin was "~1 record per extra doc,
    // never docs×L"; the stronger invariant now is ZERO scoring shuffle
    // growth (model exchanges are doc-count-independent)
    assert(delta < extraDocs / 2,
      s"scoring shuffled $delta records for $extraDocs extra docs — " +
        s"the corpus-scaling exchange is back (docs×L would be ${extraDocs * 3})")
  }

  /** Independent NB reference: same smoothing, quantization (ln rounded at
    * 9, decimal sums, score rounded at 6), and tie rule. */
  private def nbRef(train: Seq[(String, String)], docs: Seq[(Long, String)],
                    n: Int): Map[Long, (String, Double)] = {
    import java.math.{BigDecimal => BD, RoundingMode => RM}
    // BD.valueOf = canonical-string expansion, matching Spark's Round on
    // doubles (BigDecimal.decimal), not the exact-binary `new BigDecimal`
    def q9(x: Double): BD = BD.valueOf(x).setScale(9, RM.HALF_UP)
    def normT(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
    def grams(s: String): Seq[String] = {
      val t = normT(s)
      if (t.length < n) Seq.empty
      else (0 to t.length - n).map(i => t.substring(i, i + n))
    }
    val lt = train.map { case (l, t) => (l, normT(t)) }
      .filter(_._2.length >= n)
    val lg = lt.flatMap { case (l, t) => grams(t).map(l -> _) }
    val counts = lg.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val totals = lg.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    val v = lg.map(_._2).distinct.size.toLong
    val nl = lt.groupBy(_._1).map { case (l, xs) => l -> xs.size.toLong }
    val nAll = lt.size.toLong
    val prior = nl.map { case (l, c) => l -> q9(math.log(c.toDouble / nAll)) }
    val miss = totals.map { case (l, tot) => l -> q9(math.log(1.0 / (tot + v))) }
    val lp = counts.map { case ((l, g), c) =>
      (l, g) -> q9(math.log((c + 1).toDouble / (totals(l) + v)))
    }
    docs.flatMap { case (id, text) =>
      val gs = grams(text)
      if (gs.isEmpty) None else {
        val scoresByLang = totals.keys.toSeq.sorted.map { l =>
          val s = gs.foldLeft(prior(l)) { (acc, g) =>
            acc.add(lp.getOrElse((l, g), miss(l)))
          }
          (l, s)
        }
        val (bl, bs) = scoresByLang.minBy { case (l, s) => (s.negate, l) }
        // decimal -> double -> canonical round at 6, mirroring the engine's
        // cast("double") then round(_, 6)
        Some(id -> ((bl,
          BD.valueOf(bs.doubleValue).setScale(6, RM.HALF_UP).doubleValue)))
      }
    }.toMap
  }
}
