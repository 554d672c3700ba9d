package graft.operators

import graft.SparkSpec
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** Repetition signals, decontamination, and PII scrubbing — the data-hygiene
  * operator family backing q67/q68/q69.
  */
class DataHygieneSpec extends SparkSpec {

  import spark.implicits._

  test("wordNgrams slides over the token stream; short docs yield empty") {
    val df = Seq("a b c d", "a b", "one", "", "x  y").toDF("t")
      .select(TextFunctions.wordNgrams($"t", 3).as("g"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got == Seq(Seq("a b c", "b c d"), Nil, Nil, Nil, Nil))
    val bigrams = Seq("x  y").toDF("t")
      .select(TextFunctions.wordNgrams($"t", 2).as("g"))
      .as[Seq[String]].head()
    // double space: empties are filtered before gram construction
    assert(bigrams == Seq("x y"))
  }

  test("one-pass WordNgrams ≡ the transform/slice reference on the corpus") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    for (n <- Seq(2, 4)) {
      val fast = docs.select($"doc_id", TextFunctions.wordNgrams($"text", n).as("g"))
      val ref = docs.select($"doc_id", ReferenceSpellings.wordNgramsExpr($"text", n).as("g"))
      assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty,
        s"n=$n: one-pass grams diverge from the HOF reference")
    }
    // multi-byte path: grams slice by codepoint-correct byte offsets
    val zh = Seq("你好 世界 测试 abc", "émigré café  naïve").toDF("t")
    val f2 = zh.select(TextFunctions.wordNgrams($"t", 2).as("g")).as[Seq[String]].collect().toSeq
    val r2 = zh.select(ReferenceSpellings.wordNgramsExpr($"t", 2).as("g")).as[Seq[String]].collect().toSeq
    assert(f2 == r2)
  }

  test("WordNgramStats ≡ the explode + double-groupBy reference per doc") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    val fast = docs
      .select($"doc_id", TextFunctions.wordNgramStats($"text", 2).as("st"))
      .filter($"st.n_grams" > 0)
      .select($"doc_id", $"st.n_grams".as("n"), $"st.n_distinct".as("nd"), $"st.max_count".as("mx"))
    val ref = docs
      .select($"doc_id", explode(ReferenceSpellings.wordNgramsExpr($"text", 2)).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").cast("long").as("n"), count(lit(1)).as("nd"), max($"c").cast("long").as("mx"))
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    // degenerate rows: empty text, single token, pure repetition
    val edge = Seq("", "one", "a a a a").toDF("t")
      .select(TextFunctions.wordNgramStats($"t", 2).as("st"))
      .select($"st.n_grams", $"st.n_distinct", $"st.max_count")
      .as[(Long, Long, Long)].collect().toSeq
    assert(edge == Seq((0L, 0L, 0L), (0L, 0L, 0L), (3L, 1L, 3L)))
  }

  test("scrubPii redacts emails, IPs, and phones with typed tags") {
    val in = "mail bob.smith+x@corp.example.org host 192.168.0.1 call 555-0199 done"
    val out = Seq(in).toDF("t").select(TextFunctions.scrubPii($"t")).as[String].head()
    assert(out == "mail <EMAIL> host <IP> call <PHONE> done")
    // email is scrubbed before narrower patterns can nibble its digits
    val tricky = Seq("a1.2.3.4@x.io and 1.2.3.4").toDF("t")
      .select(TextFunctions.scrubPii($"t")).as[String].head()
    assert(tricky == "<EMAIL> and <IP>")
  }

  test("stripMarkup drops blocks with payload, tags to spaces, entities last") {
    val got = Seq(
      "<div class=\"a\"><p>hello</p> world</div>",
      "keep <script>var x = 1 < 2;</script> this",
      "A&amp;B &lt;tag&gt; &quot;q&quot;",
      // &amp;lt; must unescape ONCE to the literal "&lt;", never to "<"
      "&amp;lt;raw",
      "plain text untouched",
    ).toDF("t").select(TextFunctions.stripMarkup($"t")).as[String].collect().toSeq
    assert(got == Seq(
      "hello world",
      "keep this",
      "A&B <tag> \"q\"",
      "&lt;raw",
      "plain text untouched"))
  }

  test("contaminatedIds flags only train docs overlapping the eval set") {
    val docs = Seq(
      (0L, "alpha beta gamma delta tail"),    // eval (id % 2 == 0)
      (1L, "alpha beta gamma delta other"),   // train, shares the 4-gram
      (2L, "zz yy xx ww vv"),                 // eval
      (3L, "totally different words here now"), // train, clean
      (5L, "pre alpha beta gamma delta"),     // train, shares via offset
    ).toDF("doc_id", "text")
    val got = Decontamination
      .contaminatedIds(docs, "doc_id", "text", $"doc_id" % 2 === 0, n = 4)
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 5L))
  }
}
