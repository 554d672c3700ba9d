package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators added in round 4: the hashed linear
  * quality classifier (q96), per-domain caps (q97), and contrastive
  * hard-negative mining (q98).
  */
class PipelineAssemblySpec extends SparkSpec {

  test("quality classifier: row-local HOF form == exploded groupBy form") {
    val docs = tables.documents
    val local = QualityClassifier.score(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "weight_sum")
    val exploded = ReferenceSpellings.scoreExploded(docs, "doc_id", "text")
      .select("doc_id", "n_tokens", "weight_sum")
    assert(local.exceptAll(exploded).count() == 0)
    assert(exploded.exceptAll(local).count() == 0)
  }

  test("quality classifier: keep is the integer spelling of score > 0, all-token docs only") {
    import spark.implicits._
    val scored = QualityClassifier.score(tables.documents, "doc_id", "text")
    assert(scored.filter($"keep" =!= ($"score" > 0)).count() == 0)
    assert(scored.filter($"n_tokens" <= 0).count() == 0)
    // weights genuinely span both signs (a degenerate all-positive
    // pseudo-model would make `keep` vacuous)
    val keeps = scored.agg(
      count(when($"keep", 1)), count(when(!$"keep", 1))).head()
    assert(keeps.getLong(0) > 0 && keeps.getLong(1) > 0)
  }

  test("domain caps: salted two-stage cap == single-window cap on a skewed corpus") {
    import spark.implicits._
    // one hot domain (480 of 500 rows) + two small ones — the skew shape
    // the salted form exists for
    val rows = (0 until 500).map { i =>
      val host = if (i % 25 == 0) s"sub$i.small.org" else "www.hot.com"
      (i.toLong, s"https://$host/p/$i", (i * 37) % 211)
    }
    val df = rows.toDF("id", "url", "sz")
    val capped = DomainCaps.cap(df, "id", "url", "sz", maxPerDomain = 7, nSalts = 4)
    // reference: plain single window over the same domain key
    val withDomain = df.withColumn(
      "domain", DomainCaps.registeredDomain(DomainCaps.urlHost($"url")))
    val w = Window.partitionBy($"domain").orderBy($"sz".desc, $"id")
    val ref = withDomain.withColumn("rn", row_number().over(w))
      .withColumn("kept", $"rn" <= 7).drop("rn")
    val got = capped.select("id", "domain", "kept")
    val want = ref.select("id", "domain", "kept")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // audit contract: every input row appears exactly once, kept or not
    assert(capped.count() == 500)
    assert(capped.filter($"kept").groupBy($"domain").count()
      .filter($"count" > 7).count() == 0)
  }

  test("domain caps: registered-domain extraction takes the last two labels") {
    import spark.implicits._
    val got = Seq("https://a.b.example.com/x", "http://example.net/", "https://x.io/y")
      .toDF("url")
      .select(DomainCaps.registeredDomain(DomainCaps.urlHost($"url")).as("d"))
      .as[String].collect().toSeq
    assert(got == Seq("example.com", "example.net", "x.io"))
  }

  test("PSL-aware registered domain: multi-part suffixes, longest match, fallback") {
    import spark.implicits._
    val suffixes = Seq("co.uk", "org.uk", "com", "uk", "k12.ca.us").toDF("suffix")
    val urls = Seq(
      "https://www.example.co.uk/a",   // multi-part suffix -> example.co.uk
      "https://a.b.example.co.uk/b",   // deep subdomain, same suffix
      "https://news.example.com/c",    // single-part suffix -> example.com
      "https://school.k12.ca.us/d",    // longest listed suffix wins
      "https://example.dev/e"          // unlisted suffix -> last-two fallback
    ).toDF("url")
    val out = DomainCaps.withRegisteredDomainPsl(urls, "url", suffixes)
      .select($"url", $"domain").as[(String, String)].collect()
    assert(out.length == 5) // row-per-input preserved
    val m = out.toMap
    assert(m("https://www.example.co.uk/a") == "example.co.uk")
    assert(m("https://a.b.example.co.uk/b") == "example.co.uk")
    assert(m("https://news.example.com/c") == "example.com")
    assert(m("https://school.k12.ca.us/d") == "school.k12.ca.us")
    assert(m("https://example.dev/e") == "example.dev")
  }

  test("PSL-aware registered domain: 1-label and unparseable hosts fall back, not crash") {
    import spark.implicits._
    val suffixes = Seq("co.uk", "com").toDF("suffix")
    val urls = Seq(
      "http://localhost/x",            // 1-label host: no suffix candidates
      "not a url at all",              // urlHost regex misses -> host ''
      "https://www.example.co.uk/a"    // sanity: PSL path still works
    ).toDF("url")
    val out = DomainCaps.withRegisteredDomainPsl(urls, "url", suffixes)
      .select($"url", $"domain").as[(String, String)].collect().toMap
    assert(out.size == 3)
    assert(out("http://localhost/x") == "")  // last-two-labels fallback on 1 label
    assert(out("not a url at all") == "")
    assert(out("https://www.example.co.uk/a") == "example.co.uk")
  }

  test("hard negatives: same-label and below-band candidates are excluded, order by cosine") {
    import spark.implicits._
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f)),   // probe, label 0
      (2L, 0, Array(0.99f, 0.1f)),  // nearest overall but SAME label -> excluded
      (3L, 1, Array(0.9f, 0.1f)),   // hard negative, rank 1
      (4L, 1, Array(0.5f, 0.5f)),   // negative, rank 2
      (5L, 1, Array(0.0f, 1.0f)),   // cos 0 < band -> excluded
      (6L, 2, Array(0.8f, 0.3f))    // different label again, between 3 and 4
    ).toDF("vec_id", "label", "embedding")
    val got = SimilaritySearch.hardNegatives(
        vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", "label",
        k = 10, minCos = 0.1)
      .select($"rn", $"cid", $"neg_label").as[(Int, Long, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(3L, 6L, 4L), s"got $got")
    assert(got.forall(_._3 != 0))
  }
}
