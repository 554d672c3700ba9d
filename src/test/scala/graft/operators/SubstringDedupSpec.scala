package graft.operators

import graft.SparkSpec

/** q102/q103 operators: exact substring-dedup spans and directional
  * containment pairs.
  */
class SubstringDedupSpec extends SparkSpec {

  test("substring dedup: a shared 30-char passage becomes one maximal island of 30 chars") {
    import spark.implicits._
    val passage = "0123456789abcdefghij0123456789" // 30 chars
    val docs = Seq(
      (1L, "A" * 40 + passage + "B" * 40),
      (2L, "C" * 40 + passage + "D" * 40),
      (3L, "E" * 100) // unique filler, no cross-doc windows
    ).toDF("doc_id", "text")
    val got = SubstringDedup.spanStats(docs, "doc_id", "text", minLen = 20, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(1L, 2L), s"docs with shared spans: ${got.keySet}")
    // 11 windows (positions p..p+10) merge into one [p, p+30) island
    assert(got(1L) == (1L, 30L), s"doc 1: ${got(1L)}")
    assert(got(2L) == (1L, 30L), s"doc 2: ${got(2L)}")
  }

  test("substring dedup: adjacent shared runs merge; disjoint runs stay separate islands") {
    import spark.implicits._
    val p1 = "aaaaabbbbbcccccddddd" // 20 chars — exactly one window
    val p2 = "eeeeefffffggggghhhhh"
    val docs = Seq(
      (1L, "X" * 30 + p1 + "Y" * 30 + p2 + "Z" * 30),
      (2L, p1 + "Q" * 40 + p2)
    ).toDF("doc_id", "text")
    val got = SubstringDedup.spanStats(docs, "doc_id", "text", minLen = 20, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == (2L, 40L), s"doc 1 should carry two 20-char islands: ${got(1L)}")
    assert(got(2L) == (2L, 40L), s"doc 2: ${got(2L)}")
  }

  test("strided discovery is alignment-invariant: misaligned shared spans reach identical boundaries") {
    import spark.implicits._
    // the same passages placed at offsets that differ mod stride in each
    // doc — the case positional stride-sampling misses by construction,
    // and the case winnowing's content-defined selection must catch
    val p1 = "0123456789abcdefghij0123456789" // 30 chars
    val p2 = "zyxwvutsrqponmlkjihgfedcba9876" // 30 chars
    val docs = Seq(
      (1L, "A" * 41 + p1 + "B" * 43 + p2 + "C" * 40),
      (2L, "D" * 37 + p1 + "E" * 30),
      (3L, "F" * 53 + p2 + "G" * 20),
      (4L, "H" * 120) // no shared content
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val direct = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
      minLen = 20, minDocs = 2, mode = SubstringDedup.SubstringMode.Direct))
    for (stride <- Seq(2, 5, 8)) {
      val strided = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
        minLen = 20, minDocs = 2, mode = SubstringDedup.SubstringMode.Strided, stride = stride))
      assert(strided == direct, s"stride=$stride: $strided vs $direct")
    }
    assert(direct.map(_._1) == Set(1L, 2L, 3L))
  }

  test("auto mode crosses to strided discovery past the doc cap and stays exact") {
    import spark.implicits._
    val passage = "shared-passage-of-twenty-plus-characters"
    val docs = (1L to 40L).map { i =>
      (i, s"doc $i distinct prefix ${"x" * i.toInt} " +
        (if (i % 4 == 0) passage else s"unique filler $i ${"y" * 30}"))
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val direct = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
      minLen = 20, minDocs = 2, mode = SubstringDedup.SubstringMode.Direct))
    // cap of 8 forces the auto-switch on this 40-doc corpus
    val auto = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
      minLen = 20, minDocs = 2, maxDirect = 8L))
    assert(auto == direct, s"$auto vs $direct")
    assert(direct.nonEmpty)
  }

  test("strided discovery reaches identical span boundaries on the sf0.01 documents corpus") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.01").documents
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val direct = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
      minLen = 20, minDocs = 2, mode = SubstringDedup.SubstringMode.Direct))
    val strided = rows(SubstringDedup.spanStats(docs, "doc_id", "text",
      minLen = 20, minDocs = 2, mode = SubstringDedup.SubstringMode.Strided))
    assert(strided == direct,
      s"diff: ${(strided diff direct) ++ (direct diff strided)}")
    assert(direct.nonEmpty, "sf0.01 corpus should carry shared spans")
  }

  test("winnowing expression selects the identical fingerprint sets as the HOF spelling") {
    import spark.implicits._
    // real corpus (incl. multi-byte zh docs) + adversarial synthetics:
    // monotone hash runs, repeated content, exact-minLen strings
    val real = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select($"doc_id", $"text")
    val synth = Seq(
      (100001L, "a" * 60), (100002L, "abcdefghij" * 6),
      (100003L, "0123456789abcdefghij"), // exactly minLen
      (100004L, "多字节中文内容" * 8 + "shared tail content here"),
      (100005L, "z" * 19) // below minLen -> no fingerprints
    ).toDF("doc_id", "text")
    val docs = real.unionByName(synth)
    for (stride <- Seq(2, 8)) {
      val viaExpr = graft.operators.SubstringDedup
        .candidateFingerprints(docs, "doc_id", "text", 20, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaHof = ReferenceSpellings
        .winnowedHof(docs, "doc_id", "text", 20, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaExpr == viaHof,
        s"stride=$stride: expr-only ${(viaExpr diff viaHof).take(5)}, " +
          s"hof-only ${(viaHof diff viaExpr).take(5)}")
    }
  }

  test("containment catches a short doc quoted inside a long one where Jaccard cannot") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog"
    val long = short + " " + ("meanwhile entirely different prose continues onward " * 5)
    val docs = Seq((1L, short), (2L, long), (3L, "unrelated text body"))
      .toDF("doc_id", "text")
    val sh = Dedup.charShingles(docs, "doc_id", "text", n = 5)
    // the bitmap table fits the budget exactly (the driver scan), then
    // one byte short (the broadcast join): the same rows
    val bytes = rowBytes(Dedup.bitmaps(sh, Dedup.collectDict(sh)))
    for (budget <- Seq(bytes, bytes - 1)) {
      var out: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { out = withDriverBudget(budget)(Dedup.containmentPairs(sh, 0.9)) }
      val joins = out.queryExecution.optimizedPlan
        .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]).isDefined
      assert(jobs.contains("containment.collect") && joins == (budget < bytes),
        s"budget $budget: $jobs")
      val cont = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(cont.toSeq == Seq((1L, 2L, 1.0)), s"got ${cont.toSeq}")
    }
    // the symmetric measure misses it: every 5-gram of short is in long,
    // but the union is dominated by long's extra prose
    val jac = Dedup.jaccardPairs(sh, 0.7)
    assert(jac.count() == 0)
  }

  test("containment with candidate restriction matches the exact pairs it covers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "lambda mu nu xi omicron")
    ).toDF("doc_id", "text")
    val sh = Dedup.charShingles(docs, "doc_id", "text", n = 5)
    val exact = Dedup.containmentPairs(sh, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Seq((1L, 2L)).toDF("da", "db")
    val restricted = Dedup.containmentPairs(sh, 0.9, Some(cands))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(restricted == exact.intersect(Set((1L, 2L), (2L, 1L))), s"$restricted vs $exact")
    assert(restricted.contains((1L, 2L)))
  }
}
