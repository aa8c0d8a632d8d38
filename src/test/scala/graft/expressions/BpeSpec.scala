package graft.expressions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def mergesFile(merges: Seq[(String, String)]): String = {
    val f = Files.createTempFile("graft_merges", ".txt")
    Files.writeString(f,
      "# fixture merges\n" +
        merges.map { case (a, b) => s"$a $b" }.mkString("\n") + "\n")
    f.toString
  }

  private def counts(texts: Seq[String], path: String): Seq[Int] = {
    graft.Functions.ensure(spark)
    texts.toDF("t")
      .select(expr(s"bpe_token_count(t, '$path')").as("n"))
      .as[Int].collect().toSeq
  }

  test("classic merge sequence: lowest-rank adjacent pair merges first") {
    // the textbook BPE example: l+o → lo, lo+w → low, e+r → er
    val path = mergesFile(Seq(("l", "o"), ("lo", "w"), ("e", "r")))
    assert(counts(Seq("lower"), path) == Seq(2))   // low + er
    assert(counts(Seq("low"), path) == Seq(1))     // low
    assert(counts(Seq("newer"), path) == Seq(4))   // n e w er
    assert(counts(Seq("wider"), path) == Seq(4))   // w i d er
    assert(counts(Seq("low lower"), path) == Seq(3))
    // unknown chars fall back to one token per char
    assert(counts(Seq("xyz"), path) == Seq(3))
    assert(counts(Seq(""), path) == Seq(0))
  }

  test("merge priority is line order — an early merge can block a later one") {
    // on "abcd": if (a,b) outranks (b,c), merging ab first strands c and
    // d ([ab c d], the (bc,d) merge never fires) → 3 tokens; with (b,c)
    // first, bc forms and then bcd ([a bcd]) → 2 tokens. A greedy
    // longest-match tokenizer could not tell these vocabularies apart.
    val p1 = mergesFile(Seq(("a", "b"), ("b", "c"), ("bc", "d")))
    val p2 = mergesFile(Seq(("b", "c"), ("bc", "d"), ("a", "b")))
    assert(counts(Seq("abcd"), p1) == Seq(3))
    assert(counts(Seq("abcd"), p2) == Seq(2))
  }

  test("learned vocab tracks the regex heuristic within a measured bound") {
    // learn merges from real corpus text (driver-side bounded sample —
    // the same train-on-sample contract as the IVF k-means fit), then
    // measure drift of real-BPE counts vs the letter-run heuristic that
    // packing/chunking budgets used until now
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
      .select("text").limit(100).as[String].collect().toSeq
    val merges = Bpe.learnMerges(docs, 300)
    assert(merges.size > 50, s"corpus too small to learn (${merges.size})")
    val path = mergesFile(merges)
    graft.Functions.ensure(spark)
    val drift = graft.engine.Tables.t(spark, sf001, "documents")
      .select(expr(s"bpe_token_count(text, '$path')").as("bpe"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).as("heur"))
      .where(col("heur") > 0)
      .select(avg(col("bpe").cast("double") / col("heur")).as("ratio"),
        max(col("bpe").cast("double") / col("heur")).as("worst"))
      .head()
    val ratio = drift.getDouble(0)
    val worst = drift.getDouble(1)
    // 300 merges on a small sample: each heuristic token (a word or
    // punctuation run) splits into a few BPE pieces. The measured bound
    // documents the approximation: mean within [1, 6], no doc beyond 10.
    assert(ratio >= 1.0 && ratio <= 6.0,
      s"mean bpe/heuristic ratio $ratio outside the measured bound")
    assert(worst <= 10.0, s"worst-case doc ratio $worst exceeds bound")
  }

  private def vocabFile(symbols: Seq[String]): String = {
    val f = Files.createTempFile("graft_vocab", ".txt")
    Files.writeString(f, symbols.mkString("\n") + "\n")
    f.toString
  }

  test("bpe_encode emits the id sequence the merge loop implies") {
    // vocab line number = id: l=0 o=1 w=2 e=3 r=4 n=5 lo=6 low=7 er=8
    val mp = mergesFile(Seq(("l", "o"), ("lo", "w"), ("e", "r")))
    val vp = vocabFile(Seq("l", "o", "w", "e", "r", "n", "lo", "low", "er"))
    graft.Functions.ensure(spark)
    def ids(t: String): Seq[Int] =
      Seq(t).toDF("t")
        .select(expr(s"bpe_encode(t, '$mp', '$vp')").as("ids"))
        .as[Seq[Int]].head()
    assert(ids("lower") == Seq(7, 8))            // low er
    assert(ids("newer") == Seq(5, 3, 2, 8))      // n e w er
    assert(ids("low lower") == Seq(7, 7, 8))     // words concatenate
    assert(ids("") == Seq.empty)
    // unknown surviving symbol -> -1, stream length still == token count
    assert(ids("lox") == Seq(6, -1))             // lo + x (x not in vocab)
  }

  test("bpe_encode_ls marks non-initial words with Ġ through the merge walk") {
    // merges: plain (t,h) at rank 0 outruns (Ġ,t); Ġw chains to Ġwe
    val mp = mergesFile(Seq(("t", "h"), ("th", "e"), ("Ġ", "t"),
      ("Ġt", "h"), ("Ġth", "e"), ("Ġ", "w"), ("Ġw", "e")))
    // ids: t=0 h=1 e=2 w=3 Ġ=4 th=5 the=6 Ġt=7 Ġth=8 Ġthe=9 Ġw=10 Ġwe=11
    val vp = vocabFile(Seq("t", "h", "e", "w", "Ġ", "th", "the", "Ġt",
      "Ġth", "Ġthe", "Ġw", "Ġwe"))
    graft.Functions.ensure(spark)
    def ids(t: String): Seq[Int] =
      Seq(t).toDF("t")
        .select(expr(s"bpe_encode_ls(t, '$mp', '$vp')").as("ids"))
        .as[Seq[Int]].head()
    // first word unmarked: "the" -> [the]; second marked: (t,h) fires
    // before (Ġ,t) ever can, so "Ġthe" survives as [Ġ, the]
    assert(ids("the the") == Seq(6, 4, 6))
    // "Ġwe" has no plain (w,e) merge -> Ġ merges fire: Ġw then Ġwe
    assert(ids("we we") == Seq(3, 2, 11))
    // leading whitespace marks even the first word
    assert(ids(" we") == Seq(11))
    // plain mode is unchanged by Ġ entries in the table
    assert(Seq("the the").toDF("t")
      .select(expr(s"bpe_encode(t, '$mp', '$vp')").as("ids"))
      .as[Seq[Int]].head() == Seq(6, 6))
  }

  test("size(bpe_encode) == bpe_token_count on corpus text") {
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
      .select("text").limit(100).as[String].collect().toSeq
    val merges = Bpe.learnMerges(docs, 120)
    val mp = mergesFile(merges)
    // vocab covering base chars + merge outputs (coverage doesn't matter
    // for the length invariant — unknowns encode as -1, not dropped)
    val vp = vocabFile((33 to 126).map(_.toChar.toString) ++
      merges.map { case (a, b) => a + b })
    graft.Functions.ensure(spark)
    val mismatches = graft.engine.Tables.t(spark, sf001, "documents")
      .select(expr(s"size(bpe_encode(text, '$mp', '$vp'))").as("n_ids"),
        expr(s"bpe_token_count(text, '$mp')").as("n_tok"))
      .where(col("n_ids") =!= col("n_tok")).count()
    assert(mismatches == 0)
  }

  test("null text propagates, bad path fails loudly") {
    val path = mergesFile(Seq(("e", "r")))
    graft.Functions.ensure(spark)
    val r = Seq[(Integer, String)]((1, "er"), (2, null)).toDF("id", "t")
      .select(expr(s"bpe_token_count(t, '$path')").as("n"))
      .collect()
    assert(r(0).getInt(0) == 1)
    assert(r(1).isNullAt(0))
    val thrown = intercept[Exception] {
      counts(Seq("x"), "/nonexistent/merges.txt")
    }
    assert(thrown.toString.nonEmpty)
  }
}
