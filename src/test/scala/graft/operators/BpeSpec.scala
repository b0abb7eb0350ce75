package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** The Sennrich et al. (2016) teaching corpus: low×5 lower×2 newest×6
    * widest×3, as documents. */
  private def sennrich = Seq(
    Seq.fill(5)("low"), Seq.fill(2)("lower"),
    Seq.fill(6)("newest"), Seq.fill(3)("widest"))
    .flatten.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    .toDF("doc_id", "text")

  /** The expression path `Bpe.tokenizeCompiled` is checked against: per
    * word, chars + EndOfWord, then one nested [[Bpe.mergeFold]] per merge in
    * learned order. Map-side only; fine at a few dozen merges. */
  private def tokenize(docs: DataFrame, textCol: String,
      merges: Seq[Bpe.Merge]): DataFrame = {
    val ordered = merges.sortBy(_.step)
    docs.withColumn("bpe_tokens", flatten(transform(
      filter(split(lower(col(textCol)), "[^a-z]+"), w => w =!= ""),
      w => ordered.foldLeft(concat(split(w, ""), array(lit(Bpe.EndOfWord)))) {
        (sym, m) => Bpe.mergeFold(sym, m.left, m.right)
      })))
  }

  test("train pins the hand-computed merge sequence on the Sennrich corpus") {
    val model = Bpe.train(sennrich, "text", maxMerges = 8)
    // hand-derived: pair counts, count-desc / lexicographic tie-breaks
    // (round 1 has a 3-way tie at 9: (e,s) < (s,t) < (t,</w>))
    assert(model.merges.map(m => (m.step, m.left, m.right, m.pairCount)) === Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "est", "</w>", 9L),
      (4, "l", "o", 7L),
      (5, "lo", "w", 7L),
      (6, "e", "w", 6L),
      (7, "ew", "est</w>", 6L),
      (8, "n", "ewest</w>", 6L)))
    // the trainer's word table carries the retokenized corpus
    val words = model.words.select("word", "sym").as[(String, Seq[String])]
      .collect().toMap
    assert(words("newest") === Seq("newest</w>"))
    assert(words("low") === Seq("low", "</w>"))
    assert(words("lower") === Seq("low", "e", "r", "</w>"))
    assert(words("widest") === Seq("w", "i", "d", "est</w>"))
  }

  test("driver-local trainer is BIT-identical to the distributed iteration") {
    // overlap-heavy corpus: repeated symbols ("aaaa", "banana") exercise the
    // leftmost-first non-overlapping scan, where local/distributed forks
    // would show first; plus the Sennrich corpus for the tie-break ladder
    val tricky = Seq("aaaa aa banana bananas low lower lowest aaaa banana")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (corpus <- Seq(sennrich, tricky)) {
      val local = Bpe.train(corpus, "text", maxMerges = 10)
      val dist = Bpe.train(corpus, "text", maxMerges = 10, localMaxWords = 0)
      assert(local.merges === dist.merges)
      val lw = local.words.select("word", "cnt", "sym")
        .as[(String, Long, Seq[String])].collect().sortBy(_._1)
      val dw = dist.words.select("word", "cnt", "sym")
        .as[(String, Long, Seq[String])].collect().sortBy(_._1)
      assert(lw === dw)
    }
  }

  test("tokenize applies merges in learned order — held-out word segments correctly") {
    val model = Bpe.train(sennrich, "text", maxMerges = 8)
    val toks = tokenize(Seq((0L, "lowest")).toDF("doc_id", "text"),
      "text", model.merges)
      .select("bpe_tokens").as[Seq[String]].head()
    // l o w e s t </w> → es → est → est</w> → lo → low → [low, est</w>]
    assert(toks === Seq("low", "est</w>"))
    // training-corpus text round-trips to the trained segmentation
    val corpus = tokenize(Seq((0L, "newest widest")).toDF("doc_id", "text"),
      "text", model.merges)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(corpus === Seq("newest</w>", "w", "i", "d", "est</w>"))
  }

  test("early stop: training halts when every word is a single token") {
    val model = Bpe.train(Seq((0L, "ab")).toDF("doc_id", "text"),
      "text", maxMerges = 10)
    assert(model.merges.map(m => (m.left, m.right, m.pairCount)) ===
      Seq(("a", "b", 1L), ("ab", "</w>", 1L)))
    assert(model.words.select("sym").as[Seq[String]].head() === Seq("ab</w>"))
  }

  test("merge fold is leftmost-first non-overlapping (a a a a → aa aa)") {
    val out = Seq(Tuple1(Seq("a", "a", "a", "a", "a")))
      .toDF("sym")
      .select(Bpe.mergeFold(col("sym"), "a", "a").as("m"))
      .as[Seq[String]].head()
    assert(out === Seq("aa", "aa", "a"))
  }

  test("tokenizeCompiled ≡ tokenize (expression path) — corpus, held-out, overlaps, null") {
    val model = Bpe.train(sennrich, "text", maxMerges = 8)
    // training corpus + held-out words + overlap shapes + punctuation/case +
    // empty and null text: every branch the two paths must agree on
    val docs = Seq(
      (0L, "low lower newest widest"),
      (1L, "lowest slowest newer"),
      (2L, "aaaaa wewewe stestest"),
      (3L, "Low, LOWER! 42 widest-newest"),
      (4L, ""),
      (5L, null)).toDF("doc_id", "text")
    val expr = tokenize(docs, "text", model.merges)
      .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().toMap
    val compiled = Bpe.tokenizeCompiled(docs, "text", model.merges)
      .select("doc_id", "bpe_tokens").as[(Long, Seq[String])].collect().toMap
    assert(compiled === expr)
    // and the compiled path preserves every input column + appends outCol
    assert(Bpe.tokenizeCompiled(docs, "text", model.merges).columns.toSeq ===
      Seq("doc_id", "text", "bpe_tokens"))
  }

  test("tokenizeCompiled handles a merge table the expression path cannot hold") {
    // a deep synthetic merge chain: a+b, ab+b, abb+b, ... 2000 merges —
    // the expression path at this K would be a 2000-deep nested fold; the
    // compiled path treats it as a model artifact
    val merges = (1 to 2000).map { k =>
      Bpe.Merge(k, "a" + "b" * (k - 1), "b", 1L)
    }
    val toks = Bpe.tokenizeCompiled(
      Seq((0L, "a" + "b" * 2000 + " ab c")).toDF("doc_id", "text"),
      "text", merges)
      .select("bpe_tokens").as[Seq[String]].head()
    assert(toks === Seq("a" + "b" * 2000, "</w>", "ab", "</w>", "c", "</w>"))
  }

  test("zero maxMerges returns character symbols; caches are released") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val model = Bpe.train(sennrich, "text", maxMerges = 0)
    assert(model.merges.isEmpty)
    assert(model.words.filter(col("word") === "low")
      .select("sym").as[Seq[String]].head() === Seq("l", "o", "w", "</w>"))
    val model2 = Bpe.train(sennrich, "text", maxMerges = 8)
    model2.words.count()
    // at most the two returned word tables' own checkpoints survive
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 2)
  }
}
