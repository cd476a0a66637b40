package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Text/corpus family specs (TextQueries, CorpusQueries): the
  * whitespace tokenizer contract both engines share, hand-solved
  * plants for the per-document measures and corpus statistics, and
  * the plan-shape gates.
  */

/** The one tokenizer definition per engine (TextFunctions): the
  * Spark spelling pinned to the arrays DuckDB 1.0.0 returns for
  * `string_split(regexp_replace(lower(trim(x)), '\s+', ' ', 'g'), ' ')`
  * on the same inputs, and the DuckDB mirror pinned to its exact text.
  */
class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("wsTokens matches DuckDB's arrays on whitespace, case and empty edge inputs") {
    // (input, DuckDB 1.0.0 result); trim strips spaces only, so a
    // kept edge tab/CR/LF becomes an empty edge token
    val cases = Seq(
      "a\tb\r\nc\n\n d" -> Seq("a", "b", "c", "d"),
      "Hello  WORLD" -> Seq("hello", "world"),
      "" -> Seq(""),
      "   " -> Seq(""),
      " a b " -> Seq("a", "b"),
      "\t \n" -> Seq("", ""),
      "\ta\t" -> Seq("", "a", ""),
      "\r\na\r\n" -> Seq("", "a", ""))
    // an RDD source, so the codegen'd plan runs (no local-relation fold)
    val got = spark.sparkContext.parallelize(cases.map(_._1), 2).toDF("text")
      .select(TF.wsTokens($"text")).as[Seq[String]].collect().toSeq
    assert(got == cases.map(_._2))
    // the documented divergence: Java's \s matches U+000B (vertical
    // tab), RE2's does not — DuckDB keeps a-VT-b as one token here
    val vt = spark.sparkContext.parallelize(Seq("a\u000bb"), 1).toDF("text")
      .select(TF.wsTokens($"text")).as[Seq[String]].head()
    assert(vt == Seq("a", "b"))
  }

  test("the DuckDB mirrors keep their exact text") {
    assert(TF.normalizeTextSql("text") ==
      """regexp_replace(lower(trim(text)), '\s+', ' ', 'g')""")
    assert(TF.wsTokensSql("text") ==
      """string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')""")
    assert(TF.tokenCountSql("stext") ==
      """len(string_split(regexp_replace(lower(trim(stext)), '\s+', ' ', 'g'), ' '))""")
  }
}

/** Hand-solved plants for text measures and corpus statistics. */
class TextHandSolvedSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("docs2").toString
    rows.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("sentence stats: 'hello world. foo bar baz! ok?' → 3 sentences, max 3") {
    val r = SparkEntry.queries("text_sentence_stats")(
      spark, docs(Seq((0L, "hello world. foo bar baz! ok?"))))
      .collect().head
    assert(r.getAs[Long]("n_sentences") == 3L)
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Double]("mean_sentence_len") == 2.0)
    assert(r.getAs[Long]("max_sentence_len") == 3L)
  }

  test("ngram novelty: eval doc sharing one 4-gram with train → 4/5 novel") {
    val dir = docs(Seq((0L, "a b c d e"), (8L, "a b c d x y z w")))
    val rows = SparkEntry.queries("ngram_novelty")(spark, dir).collect()
    assert(rows.length == 1) // only doc 8 is in the eval split
    val r = rows.head
    assert(r.getAs[Long]("doc_id") == 8L)
    assert(r.getAs[Long]("n_grams") == 5L)
    assert(r.getAs[Long]("n_novel") == 4L)
    assert(r.getAs[Double]("novelty") == 0.8)
  }

  test("feature_hash: repeated token lands twice in one bucket, |f| = n_hits") {
    val dir = java.nio.file.Files.createTempDirectory("fh").toString
    Seq((0L, "x x", "en", "s1", 3L), (1L, "x y x y", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("feature_hash_vectors")(spark, dir)
      .collect()
    val d0 = rows.filter(_.getAs[Long]("doc_id") == 0L)
    assert(d0.length == 1) // one token type → one bucket
    assert(d0.head.getAs[Long]("n_hits") == 2L)
    assert(math.abs(d0.head.getAs[Long]("f")) == 2L) // same sign twice
    val d1 = rows.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.map(_.getAs[Long]("n_hits")).sum == 4L) // multiplicity kept
    d1.foreach(r =>
      assert(math.abs(r.getAs[Long]("f")) <= r.getAs[Long]("n_hits")))
  }

  test("code detect: keyword+indent+symbol plant flags; prose does not") {
    val dir = java.nio.file.Files.createTempDirectory("code").toString
    import spark.implicits._
    Seq((0L, "def foo():\n  return bar;\n  x = [1];", "en", "s1", 1L),
      (1L, "the cat sat on the mat", "en", "s1", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_code_detect")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val c = rows(0L)
    assert(c.getAs[Long]("n_keywords") == 2L) // def, return
    assert(c.getAs[Long]("n_indented") == 2L)
    assert(c.getAs[Long]("n_lines") == 3L)
    assert(c.getAs[Int]("is_code") == 1)
    val p = rows(1L)
    assert(p.getAs[Long]("n_symbols") == 0L)
    assert(p.getAs[Int]("is_code") == 0)
  }

  test("corpus_hhi: 3+1 source split → HHI 0.625, 1.6 effective sources") {
    val dir = java.nio.file.Files.createTempDirectory("r22hhi").toString
    Seq((1L, "t", "en", "a", 1L), (2L, "t", "en", "a", 1L),
      (3L, "t", "en", "a", 1L), (4L, "t", "en", "b", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("corpus_hhi")(spark, dir).collect().head
    assert(r.getAs[Long]("n_sources") == 2L)
    assert(r.getAs[String]("top_source") == "a")
    assert(r.getAs[Double]("top_share") == 0.75)
    assert(r.getAs[Double]("hhi") == 0.625)
    assert(r.getAs[Long]("effective_sources_micro") == 1600000L)
  }
}

/** Plan-shape gates for the text/corpus queries — each SURVEY §2
  * scale claim asserted on the physical plan.
  */
class TextPlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("burstiness/zipf collapse the TF explode to the vocab grain map-side") {
    for (q <- Seq("token_burstiness", "zipf_law_fit")) {
      val plan = planOf(q)
      assert(plan.contains("partial_count") || plan.contains("partial_"),
        s"$q: the token explode reaches a shuffle un-combined:\n$plan")
    }
  }

  test("feature hashing scans documents map-only into a combined keyed count") {
    val plan = planOf("feature_hash_vectors")
    assert(plan.contains("positioned_ngram_hashes"),
      s"the codegen'd hash expression is not in the plan:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"bucket counts reach the exchange un-combined:\n$plan")
  }

  test("ngram novelty ships 8-byte gram hashes, not gram strings, to the shuffle") {
    val plan = planOf("ngram_novelty")
    assert(plan.contains("token_ngram_hashes"),
      s"the codegen'd gram-hash expression is not in the plan:\n$plan")
  }

  test("posting lists cap through the bounded-heap TopKPerKey operator") {
    val plan = planOf("inverted_index_postings")
    assert(plan.contains("TopKPerKey"),
      s"posting cap fell back to a window sort:\n$plan")
  }
}

/** C112 zipf_law_fit — planted geometric frequencies give a
  * hand-checkable fit; the rank order and the grid quantization are
  * pinned against an independent Scala recompute.
  */
class ZipfSpec extends SparkTestBase {
  import spark.implicits._

  test("planted 8/4/2/1 frequencies: ranks, grid points, exact OLS") {
    val dir = java.nio.file.Files.createTempDirectory("zipf").toString
    val text = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++
      Seq.fill(2)("cc") ++ Seq("dd")).mkString(" ")
    Seq((1L, text, "en", "s")).toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("zipf_law_fit")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(out.map(r => (r.getAs[String]("token"), r.getAs[Long]("freq")))
      .toSeq == Seq("aa" -> 8L, "bb" -> 4L, "cc" -> 2L, "dd" -> 1L))
    // independent recompute on the same 1e-6 grid
    val freqs = Seq(8L, 4L, 2L, 1L)
    val pts = freqs.zipWithIndex.map { case (f, i) =>
      (math.floor(math.log(i + 1.0) * 1e6 + 0.5).toLong,
        math.floor(math.log(f.toDouble) * 1e6 + 0.5).toLong)
    }
    val n = BigInt(pts.length)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val slope = math.floor((n * sxy - sx * sy).toDouble
      / (n * sxx - sx * sx).toDouble * 1e6 + 0.5) / 1e6
    assert(out.head.getAs[Double]("slope") == slope, s"want $slope")
    // a geometric rank-frequency curve is steeply negative
    assert(slope < -1.0)
  }

  test("corpus fit is Zipf-shaped: negative slope, full rank rows") {
    val out = SparkEntry.queries("zipf_law_fit")(spark, sfDir).collect()
    assert(out.length == 20)
    assert(out.head.getAs[Double]("slope") < 0.0)
    assert(out.head.getAs[Long]("n_ranks") > 20)
  }
}

/** C113 token_burstiness — constant-rate tokens score exactly 0,
  * concentrated tokens score high, and the VMR arithmetic is pinned
  * by hand.
  */
class BurstinessSpec extends SparkTestBase {
  import spark.implicits._

  test("uniform token VMR=0; 2-per-doc-in-half-the-docs VMR=1") {
    val dir = java.nio.file.Files.createTempDirectory("burst").toString
    // 10 docs; "uu" once in every doc; "bb" twice in docs 0-4
    val docs = (0 until 10).map { i =>
      val b = if (i < 5) " bb bb" else ""
      (i.toLong, s"uu$b", "en", "s")
    }
    docs.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("token_burstiness")(spark, dir)
      .collect().map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("rnk"), r.getAs[Long]("df"), r.getAs[Long]("cf"),
          r.getAs[Double]("burstiness"))).toMap
    // bb: N=10, df=5, cf=10, Σc²=20 → (10·20−100)/(10·10) = 1.0
    assert(out("bb") == ((1L, 5L, 10L, 1.0)), s"${out("bb")}")
    // uu: constant 1/doc → variance 0 → VMR exactly 0
    assert(out("uu") == ((2L, 10L, 10L, 0.0)), s"${out("uu")}")
  }

  test("corpus run ranks bursty above uniform, all VMR >= 0") {
    val out = SparkEntry.queries("token_burstiness")(spark, sfDir).collect()
    assert(out.length == 20)
    assert(out.forall(_.getAs[Double]("burstiness") >= 0.0))
  }
}

/** C114 distinct_ngram_diversity — degenerate repetition and full
  * diversity land on exact hand-computed ratios at every n.
  */
class DistinctNgramSpec extends SparkTestBase {
  import spark.implicits._

  test("'x x x x' vs 'a b c d': exact ratios at n=1,2,3") {
    val dir = java.nio.file.Files.createTempDirectory("dngram").toString
    Seq((1L, "x x x x", "en", "rep"), (2L, "a b c d", "en", "div"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("distinct_ngram_diversity")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Int]("n")) ->
        (r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"),
          r.getAs[Double]("diversity"))).toMap
    assert(out(("rep", 1)) == ((4L, 1L, 0.25)))
    assert(out(("rep", 2)) == ((3L, 1L, math.floor(1.0 / 3 * 1e6 + 0.5) / 1e6)))
    assert(out(("rep", 3)) == ((2L, 1L, 0.5)))
    assert(out(("div", 1)) == ((4L, 4L, 1.0)))
    assert(out(("div", 2)) == ((3L, 3L, 1.0)))
    assert(out(("div", 3)) == ((2L, 2L, 1.0)))
  }

  test("corpus diversity falls as n rises per source (soup repeats unigrams)") {
    val out = SparkEntry.queries("distinct_ngram_diversity")(spark, sfDir)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Int]("n")) ->
        r.getAs[Double]("diversity")).toMap
    val sources = out.keys.map(_._1).toSet
    assert(sources.size >= 3)
    sources.foreach { s =>
      assert(out((s, 1)) < out((s, 2)) && out((s, 2)) < out((s, 3)),
        s"$s: ${out((s, 1))} ${out((s, 2))} ${out((s, 3))}")
    }
  }
}

/** C126 text_yule_k / C127 text_garbage_score / C128 self_bleu_bigram
  * — hand-computable text plants.
  */
class TextCurationSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("txt").toString
    rows.map { case (id, text, src) => (id, text, "en", src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("yule_k: 'a a a b' → N=4, V=2, K = 1e4·(10−4)/16 = 3750") {
    val r = SparkEntry.queries("text_yule_k")(
      spark, docsDir(Seq((0L, "a a a b", "s1")))).collect().head
    assert(r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("n_types") == 2L)
    assert(r.getAs[Double]("yule_k") == 3750.0)
  }

  test("garbage: 10-consonant run flags; clean prose does not") {
    val dir = docsDir(Seq(
      (0L, "abc!!! zzzzzzzzzz", "s1"),
      (1L, "the quick brown fox", "s1")))
    val rows = SparkEntry.queries("text_garbage_score")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val g = rows(0L)
    assert(g.getAs[Long]("n_chars") == 17L)
    assert(g.getAs[Long]("non_alnum") == 3L)
    assert(g.getAs[Long]("max_cons_run") == 10L)
    assert(g.getAs[Int]("is_garbage") == 1)
    val c = rows(1L)
    assert(c.getAs[Long]("max_cons_run") == 2L) // th/ck/br/wn
    assert(c.getAs[Int]("is_garbage") == 0)
  }

  test("self_bleu: shared {a b, b c} of 3 bigrams → p2 = 2/3") {
    val dir = docsDir(Seq((0L, "a b c d", "s1"), (1L, "a b c e", "s2")))
    val r = SparkEntry.queries("self_bleu_bigram")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L)
    assert(r.getAs[Long]("n_a") == 3L)
    assert(r.getAs[Long]("clipped") == 2L)
    assert(r.getAs[Double]("p2") == 0.666667)
  }

  test("corpus: yule per source positive; p2 within [0,1]; garbage flags consistent") {
    val yk = SparkEntry.queries("text_yule_k")(spark, sfDir).collect()
    assert(yk.nonEmpty)
    yk.foreach(r => assert(r.getAs[Double]("yule_k") >= 0.0))
    val sb = SparkEntry.queries("self_bleu_bigram")(spark, sfDir).collect()
    assert(sb.nonEmpty)
    sb.foreach { r =>
      val p = r.getAs[Double]("p2")
      assert(p >= 0.0 && p <= 1.0)
      assert(r.getAs[Long]("clipped") <= r.getAs[Long]("n_a"))
    }
    val gs = SparkEntry.queries("text_garbage_score")(spark, sfDir).collect()
    gs.foreach { r =>
      val flag = r.getAs[Int]("is_garbage") == 1
      val computed = r.getAs[Double]("non_alnum_ratio") > 0.30 ||
        r.getAs[Long]("max_cons_run") >= 8L
      // 6dp floor of the ratio can only round DOWN: a flag set by a
      // ratio microscopically over 0.30 may show a rounded 0.30 —
      // assert the implication that can't be broken by the grid
      if (!flag) assert(!computed)
    }
  }
}

class EmdSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("emd").toString
    rows.toDF("doc_id", "lang", "n_chars")
      .withColumn("text", lit("x")).withColumn("source", lit("s"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("point masses at bins 0 and 10 are exactly 10 bins apart") {
    val dir = docsDir(Seq(
      (0L, "aa", 0L), (1L, "aa", 5L),        // both bin 0
      (2L, "bb", 320L), (3L, "bb", 330L)))   // both bin 10
    val got = SparkEntry.queries("hist_emd_langs")(spark, dir)
      .select($"lang_a", $"lang_b", $"emd_bins")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("aa", "bb", 10.0)), s"got $got")
  }

  test("identical distributions have EMD exactly 0; order is lang_a < lang_b") {
    val dir = docsDir(Seq(
      (0L, "aa", 10L), (1L, "aa", 100L),
      (2L, "bb", 12L), (3L, "bb", 101L),     // same bins as aa
      (4L, "cc", 320L)))
    val got = SparkEntry.queries("hist_emd_langs")(spark, dir)
      .select($"lang_a", $"lang_b", $"emd_bins")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("aa", "bb")) == 0.0, s"got $got")
    assert(got.keySet == Set(("aa", "bb"), ("aa", "cc"), ("bb", "cc")))
    // cc sits 10 bins (aa: bins 0,3 → avg distance (10+7)/2 = 8.5)
    assert(got(("aa", "cc")) == 8.5, s"got $got")
  }

  test("unequal sizes: cross-multiplied CDFs stay exact") {
    // aa: 3 docs at bin 0; bb: 1 doc at bin 2 → EMD = 2 bins exactly
    val dir = docsDir(Seq(
      (0L, "aa", 0L), (1L, "aa", 1L), (2L, "aa", 2L),
      (3L, "bb", 64L)))
    val got = SparkEntry.queries("hist_emd_langs")(spark, dir)
      .select($"emd_bins").as[Double].head()
    assert(got == 2.0, s"got $got")
  }
}

class PostingsSpec extends SparkTestBase {
  import spark.implicits._

  private def docsDir(rows: Seq[(Long, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("postings").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("gaps reconstruct sorted doc ids; per-doc dedup; cap at 8") {
    // "alpha" in docs 3, 10, 11 (twice in doc 3 -> dedup);
    // "bravo" in 10 docs -> df 10 but only 8 postings
    val dir = docsDir(
      Seq((3L, "alpha alpha x"), (10L, "alpha y"), (11L, "alpha z")) ++
        (20L to 29L).map(i => (i, s"bravo d$i")))
    val got = SparkEntry.queries("inverted_index_postings")(spark, dir)
      .select($"term", $"df", $"n_postings", $"postings")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("alpha") == (("alpha", 3L, 3L, "3,7,1")), s"${got("alpha")}")
    val b = got("bravo")
    assert(b._2 == 10L && b._3 == 8L, s"bravo $b")
    // decode: cumulative sums of the gaps = first 8 doc ids
    val ids = b._4.split(",").map(_.toLong)
      .scanLeft(0L)(_ + _).drop(1).toSeq
    assert(ids == (20L to 27L), s"decoded $ids")
  }

  test("corpus run: non-vacuous, df >= n_postings, gaps positive after first") {
    val rows = SparkEntry.queries("inverted_index_postings")(spark, sfDir)
      .select($"term", $"df", $"n_postings", $"postings")
      .as[(String, Long, Long, String)].collect()
    assert(rows.length >= 10, s"only ${rows.length} terms indexed")
    assert(rows.forall(r => r._2 >= r._3), "df < n_postings somewhere")
    assert(rows.forall(_._4.split(",").drop(1).forall(_.toLong > 0)),
      "non-positive gap: postings not strictly ascending")
    assert(rows.exists(_._3 == 8L), "no term hit the posting cap")
  }
}
