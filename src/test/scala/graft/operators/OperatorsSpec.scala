package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operator-level behavior checks on small data: as-of join semantics,
  * exact dedup survivors, and the LSH paths' agreement with their exact
  * counterparts (the scale-path contract from SURVEY.md §2.12).
  */
class OperatorsSpec extends SparkSpec {

  private def hasJoin(df: DataFrame): Boolean = df.queryExecution.optimizedPlan
    .find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]).isDefined

  test("AsOfJoin.latest picks the greatest right time <= left time, ties by tiebreak") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"), (3L, 1L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 3L, 100L), (1L, 10L, 101L), (1L, 10L, 102L), (2L, 8L, 103L))
      .toDF("rk", "rt", "rid")
    val out = AsOfJoin.latest(left, right, $"k", $"rk", $"t", $"rt", $"rid", $"tag")
      .select($"tag", $"rid").as[(String, Option[Long])].collect().toMap
    assert(out("a").contains(102L)) // rt=10 tie -> larger rid wins
    assert(out("b").contains(100L)) // only rt=3 <= 5
    assert(out("c").isEmpty)        // rt=8 > 7 -> unmatched survives (left outer)
    assert(out("d").isEmpty)        // no key match
  }

  test("Dedup.exact keeps one deterministic survivor per content group") {
    import spark.implicits._
    val df = Seq((1L, "xx"), (2L, "xx"), (3L, "yy"), (4L, "xx")).toDF("id", "t")
    val survivors = Dedup.exact(df, $"t", $"id").select($"id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 3L))
  }

  test("MinHash-LSH near-dup pairs equal the exact Jaccard pairs at 0.7 on documents") {
    val docs = tables.documents
    val sh = Dedup.charShingles(docs, "doc_id", "text")
    val exact = Dedup.jaccardPairs(sh, 0.7).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MinHashLSH.nearDuplicatePairs(sh, 0.7).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture corpus should contain near-dups")
    assert(lsh == exact)
  }

  test("temporal near-dup pairs: horizon filters exactly, cell-boundary pairs survive") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val other = "colorless green ideas sleep furiously at noon " * 5
    // group X (ids 1,2,3): near-identical text; only (1,2) is in-window.
    // group Y (ids 4,5): near-identical, days 13/15 STRADDLE the 14-day
    // cell boundary (cells 0 and 1) — the adjacent-cell replication must
    // still find them. id 6: unrelated text, never pairs.
    val docs = Seq(
      (1L, base + "tail one"), (2L, base + "tail two"), (3L, base + "tail3"),
      (4L, other + "x"), (5L, other + "y"), (6L, "completely different words entirely")
    ).toDF("doc_id", "text")
    val day = Map(1L -> 0L, 2L -> 10L, 3L -> 200L, 4L -> 13L, 5L -> 15L, 6L -> 180L)
    val ts = day.toSeq.toDF("doc_id", "t")
    val sh = Dedup.charShingles(docs, "doc_id", "text").cache()
    val got = MinHashLSH.temporalNearDuplicatePairs(sh, ts, horizon = 14L, threshold = 0.7)
      .collect().map(r => ((r.getAs[Long]("da"), r.getAs[Long]("db")), r.getAs[Long]("t_gap")))
      .toMap
    assert(got.keySet == Set((1L, 2L), (4L, 5L)))
    assert(got((1L, 2L)) == 10L && got((4L, 5L)) == 2L)
    // identity vs the post-filter spelling (same corpus, no cap pressure):
    // the cell bucketing must lose no in-window pair
    val post = MinHashLSH.nearDuplicatePairs(sh, 0.7).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => math.abs(day(a) - day(b)) <= 14L }.toSet
    assert(post == got.keySet)
    // and the out-of-window near-dups DID exist (the filter earned its keep)
    val full = MinHashLSH.nearDuplicatePairs(sh, 0.7).count()
    assert(full > got.size)
    sh.unpersist()
  }

  test("prefix-filter join pairs equal the exact Jaccard pairs (exactness, not recall)") {
    val sh = Dedup.charShingles(tables.documents, "doc_id", "text").cache()
    val exact = Dedup.jaccardPairs(sh, 0.7).select("da", "db", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pfj = PrefixFilterJoin.nearDuplicatePairs(sh, 0.7).select("da", "db", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture corpus should contain near-dups")
    assert(pfj == exact)
    sh.unpersist()
  }

  test("prefix-filter candidates are a superset of true pairs and a fraction of all-pairs") {
    import graft.functions.TextFunctions
    // word 3-grams: the selective token space where prefix filtering earns
    // its keep (on bounded-alphabet char shingles it degenerates — scaladoc)
    val grams = tables.documents
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.wordNgrams(col("text"), 3))).as("s"))
      .cache()
    val truePairs = Dedup.jaccardPairs(grams, 0.5).select("da", "db")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = PrefixFilterJoin.candidatePairs(grams, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty && truePairs.subsetOf(cand))
    val nDocs = grams.select("doc_id").distinct().count()
    val allPairs = nDocs * (nDocs - 1) / 2
    assert(cand.size < allPairs / 20,
      s"prefix filter should prune most of the ${allPairs} pair space, kept ${cand.size}")
    grams.unpersist()
  }

  test("Chunking covers every token, overlaps by size-stride, reconstructs the doc") {
    import spark.implicits._
    val docs = tables.documents.limit(50).cache()
    val chunks = Chunking.tokenChunks(docs, "doc_id", "text", size = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    val byDoc = chunks.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val tokenCounts = docs.select($"doc_id",
      size(graft.functions.TextFunctions.tokens($"text")).as("n"))
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (id, cs) =>
      val n = tokenCounts(id)
      // starts step by stride from 1; last chunk reaches the final token
      assert(cs.map(_._3).toSeq == (1 to n by 48).toSeq)
      assert(cs.last._3 + cs.last._4 - 1 == n, "trailing tokens must be covered")
      cs.foreach { case (_, _, s, len, text) =>
        assert(len == math.min(64, n - s + 1) && text.split(" ").length == len)
      }
      // stride-prefix concatenation reconstructs the token stream exactly:
      // consecutive starts differ by 48, and the final chunk is always
      // <= 48 tokens (a longer tail would have spawned one more start)
      val rebuilt = cs.flatMap(_._5.split(" ").take(48))
      val original = docs.filter($"doc_id" === id).select($"text")
        .as[String].head().split(" ").filter(_.nonEmpty).toSeq
      assert(rebuilt.toSeq == original)
    }
    assert(byDoc.nonEmpty)
    docs.unpersist()
  }

  test("RandomProjection preserves norms and pairwise distances in expectation") {
    import spark.implicits._
    val e = tables.embeddings
    val proj = RandomProjection.project(col("embedding"), 64, 16)
    val ratio = e.select(
        (graft.functions.VectorFunctions.dot(proj, proj) /
          graft.functions.VectorFunctions.dot(
            graft.functions.VectorFunctions.toDouble(col("embedding")),
            graft.functions.VectorFunctions.toDouble(col("embedding"))))
          .as("r"))
      .agg(avg($"r"), min($"r"), max($"r")).as[(Double, Double, Double)].head()
    // E[||proj||^2 / ||v||^2] = 1 for a JL sign matrix; corpus mean should
    // sit tight around it even though individual vectors wander
    assert(ratio._1 > 0.8 && ratio._1 < 1.2, s"mean norm ratio $ratio")
    assert(ratio._2 > 0.1 && ratio._3 < 4.0, s"per-vector ratio out of envelope $ratio")
    // deterministic: the sign matrix depends only on the indices
    assert(RandomProjection.sign(1, 0) == RandomProjection.sign(1, 0))
    val signs = for (d <- 1 to 64; j <- 0 until 16) yield RandomProjection.sign(d, j)
    val plus = signs.count(_ == 1)
    assert(plus > 400 && plus < 624, s"sign balance $plus/1024")
  }

  test("ZOrder buckets bound BOTH dimensions; a single-dim sort bounds only its own") {
    import spark.implicits._
    val o = tables.orders
      .withColumn("day", expr("datediff(o_orderdate, date'1970-01-01')").cast("long"))
    // fraction of each dim's global range covered per bucket, averaged
    def spread(bucketed: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val (c0, c1, d0, d1) = o.agg(min($"o_custkey"), max($"o_custkey"),
        min($"day"), max($"day")).as[(Long, Long, Long, Long)].head()
      val r = bucketed.groupBy($"bucket")
        .agg(((max($"o_custkey") - min($"o_custkey")) / (c1 - c0).toDouble).as("cs"),
          ((max($"day") - min($"day")) / (d1 - d0).toDouble).as("ds"))
        .agg(avg($"cs"), avg($"ds")).as[(Double, Double)].head()
      r
    }
    val z = ZOrder.withZKey(o, $"o_custkey", $"day")
      .withColumn("bucket", shiftright($"__z", 26))
    val (zc, zd) = spread(z)
    val byDay = o.withColumn("bucket", ntile(64).over(
      org.apache.spark.sql.expressions.Window.orderBy($"day")))
    val (sc, sd) = spread(byDay)
    // z-order: both dims tightly bounded per bucket; day sort: day tight
    // but custkey spans nearly the whole range in every bucket
    assert(zc < 0.35 && zd < 0.35, s"z-order spreads: custkey=$zc day=$zd")
    assert(sc > 0.8, s"single-dim sort should leave custkey unbounded, got $sc")
    assert(zc < sc / 2, s"z-order custkey spread $zc should beat day-sorted $sc")
  }

  test("PageRank matches the hand-computed recurrence, conserves mass, checkpoints identically") {
    import spark.implicits._
    // 1 <-> 2 <-> 3: center node accumulates authority
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = PageRank.ranks(edges, iterations = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1) - 0.2097) < 5e-5 && math.abs(r(3) - 0.2097) < 5e-5)
    assert(math.abs(r(2) - 0.5805) < 5e-5)
    assert(math.abs(r.values.sum - 1.0) < 1e-9, s"mass not conserved: ${r.values.sum}")
    val dir = java.nio.file.Files.createTempDirectory("graft_pr_ckpt").toString
    val ckpt = PageRank.ranks(edges, iterations = 3, checkpointDir = Some(dir))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ckpt == r)
    // the three paths, each at or one byte short of its driver budget:
    // the 3 nodes' rows and the 4 packed edges take 16 bytes each
    def ranksAt(budget: Long): (Map[Long, Double], Seq[String]) = {
      var out: Map[Long, Double] = null
      val jobs = jobsDuring {
        out = withDriverBudget(budget)(PageRank.ranks(edges, iterations = 3).collect())
          .map(x => x.getLong(0) -> x.getDouble(1)).toMap
      }
      (out, jobs)
    }
    // both fit: the nodes' collect, then the edges' (no job in the loop)
    val (driver, driverJobs) = ranksAt(4 * 16L)
    val (nodeJobs, rest) = driverJobs.span(_ == "pagerank.nodes")
    assert(nodeJobs.nonEmpty && rest.nonEmpty && rest.forall(_ == "pagerank.edges"),
      s"within both bounds: $driverJobs")
    assert(driver == r)
    // the distributed path (the nodes one byte short) must agree with
    // the driver-resident fast path to double precision
    val (dist, distJobs) = ranksAt(3 * 16L - 1)
    assert(distJobs.head == "pagerank.nodes" && !distJobs.contains("pagerank.edges") &&
      distJobs.exists(_ != "pagerank.nodes"), s"nodes one byte short: $distJobs")
    assert(dist.keySet == r.keySet)
    dist.foreach { case (v, d) => assert(math.abs(d - r(v)) < 1e-12, s"node $v: $d vs ${r(v)}") }
    // the middle tier (the nodes fit, the edges one byte short: rank
    // vector broadcast per round, edges distributed, one job a round)
    // must also agree
    val (mid, midJobs) = ranksAt(4 * 16L - 1)
    assert(midJobs.contains("pagerank.edges") && midJobs.dropWhile(_ != "pagerank.edges")
      .count(_ != "pagerank.edges") == 3, s"edges one byte short: $midJobs")
    assert(mid.keySet == r.keySet)
    mid.foreach { case (v, d) => assert(math.abs(d - r(v)) < 1e-12, s"node $v: $d vs ${r(v)}") }
  }

  test("packed-bitmap tier (dict > MaxBitmapDict) matches brute-force Jaccard and containment") {
    import spark.implicits._
    // 40 docs over a 6000-gram dictionary — past MaxBitmapDict (4096),
    // inside the packed docs × words budget, so both exact operators
    // take the packed Array[Long] kernel. Each odd doc holds a 280-gram
    // subset of its even neighbor's 300 grams: J = 280/300 ≈ 0.933 and
    // containment(odd in even) = 1.0 by construction.
    val sets: Map[Long, Set[String]] = (0 until 40).map { d =>
      val base = (d / 2 * 2) * 200
      val n = if (d % 2 == 0) 300 else 280
      d.toLong -> (0 until n).map(i => f"g${base + i}%05d").toSet
    }.toMap
    val dict = sets.values.flatten.toSet
    assert(dict.size > Dedup.MaxBitmapDict, "fixture must exceed the column-bitmap cap")
    val sh = sets.toSeq.flatMap { case (d, s) => s.map(d -> _) }.toDF("doc_id", "s")
    def bruteJ(a: Set[String], b: Set[String]): Double =
      (a & b).size.toDouble / (a | b).size
    val expectedJ = (for {
      a <- sets.keys; b <- sets.keys if a < b
      j = bruteJ(sets(a), sets(b)) if j >= 0.8
    } yield (a, b, j)).toSet
    val gotJ = Dedup.jaccardPairs(sh, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expectedJ.nonEmpty && gotJ == expectedJ)
    val expectedC = (for {
      a <- sets.keys; b <- sets.keys if a != b
      c = (sets(a) & sets(b)).size.toDouble / sets(a).size if c >= 0.95
    } yield (a, b, c)).toSet
    val gotC = Dedup.containmentPairs(sh, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expectedC.nonEmpty && gotC == expectedC)
  }

  test("broadcast bitmap refine equals the join-shaped refine") {
    val sh = Dedup.charShingles(tables.documents, "doc_id", "text").cache()
    // checkpointed, so the refine's own plan shows whether it joins
    val cand = MinHashLSH.candidatePairs(MinHashLSH.signatures(sh)).localCheckpoint()
    // the bitmap table fits the budget exactly, then one byte short
    val bytes = rowBytes(Dedup.bitmaps(sh, Dedup.collectDict(sh)))
    def refine(budget: Long) = {
      var out: DataFrame = null
      val jobs = jobsDuring { out = withDriverBudget(budget)(Dedup.jaccardForPairs(sh, cand, 0.7)) }
      assert(jobs.contains("jaccard.collect"), s"budget $budget: $jobs")
      (out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet, hasJoin(out))
    }
    val (viaBroadcast, broadcastJoins) = refine(bytes)
    val (viaJoin, joinJoins) = refine(bytes - 1)
    assert(!broadcastJoins && joinJoins, "the kernel within the budget, the join past it")
    assert(viaBroadcast == viaJoin && viaBroadcast.nonEmpty)
  }

  test("clusters assigns each vertex the min id of its connected component") {
    import spark.implicits._
    // two components {1,2,3} (via 1-2, 2-3) and {5,6}; a path 10-11-12-13-14
    // needs several propagation rounds end-to-end
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("da", "db")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L)
    // driver union-find fast path (the edges fit the budget exactly) and
    // the distributed label-propagation loop (one byte short) must agree
    // exactly; the driver path runs no job after its collect
    val bytes = rowBytes(pairs)
    def run(budget: Long) = {
      var out = Map.empty[Long, Long]
      val jobs = jobsDuring {
        out = withDriverBudget(budget)(Dedup.clusters(pairs)).as[(Long, Long)].collect().toMap
      }
      assert(jobs.contains("clusters.edges"), s"budget $budget: $jobs")
      (out, jobs.count(_ != "clusters.edges"))
    }
    val (viaDriver, driverJobs) = run(bytes)
    val (viaLoop, loopJobs) = run(bytes - 1)
    assert(driverJobs == 0 && loopJobs > 0, s"jobs past the collect: $driverJobs, $loopJobs")
    assert(viaDriver == expected && viaLoop == expected)
  }

  test("clusters with a reliable checkpoint dir matches the localCheckpoint variant") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L)).toDF("da", "db")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // a zero budget forces the iterative path the checkpoint serves
    val got = withDriverBudget(0L)(Dedup.clusters(pairs, checkpointDir = Some(dir)))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L))
    // reliable checkpoints actually landed under the configured dir
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try assert(s.count() > 0, "expected checkpoint data under the configured dir")
    finally s.close()
  }

  test("hot-bucket cap bounds candidates on a degenerate identical corpus, keeps it connected") {
    import spark.implicits._
    // 1000 boilerplate-identical docs: every (band, key) bucket holds all
    // 1000 signatures, so uncapped candidate generation would emit
    // ~499,500 pairs; the cap routes each bucket through its min-doc star
    val docs = (1L to 1000L)
      .map(i => (i, "all work and no play makes jack a dull boy"))
      .toDF("doc_id", "text")
    val sh = Dedup.charShingles(docs, "doc_id", "text")
    val sigs = MinHashLSH.signatures(sh, 32)
    val capped = MinHashLSH.candidatePairs(sigs, bands = 8, rowsPerBand = 4, bucketCap = 64)
    assert(capped.count() == 999, "expected one star pair per non-representative doc")
    // connectivity survives the cap: still one cluster of all 1000 docs
    val cl = Dedup.clusters(capped)
    assert(cl.count() == 1000 &&
      cl.select(col("cluster_id")).distinct().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("bucket cap leaves the normal-corpus candidate set unchanged") {
    val sh = Dedup.charShingles(tables.documents, "doc_id", "text")
    val sigs = MinHashLSH.signatures(sh).cache()
    def pairs(cap: Int) = MinHashLSH.candidatePairs(sigs, bucketCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(MinHashLSH.DefaultBucketCap) == pairs(Int.MaxValue))
  }

  test("banded SimHash near-dups equal the all-pairs Hamming pairs at distance <= 3") {
    val docs = tables.documents
    val p = SimHash.packed(docs, "doc_id", "text")
    val a = p.select(col("doc_id").as("da"), col("lo").as("la"), col("hi").as("ha"))
    val b = p.select(col("doc_id").as("db"), col("lo").as("lb"), col("hi").as("hb"))
    val allPairs = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
          bit_count(col("ha").bitwiseXOR(col("hb")))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = SimHash.nearDuplicates(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(allPairs.nonEmpty, "fixture corpus should contain close signatures")
    assert(banded == allPairs) // pigeonhole: banding loses nothing at <= 3
  }

  test("broadcast cosine near-dup kernel equals the all-pairs join formulation") {
    val e = tables.embeddings
    val j = SimilaritySearch.nearDuplicatesExactJoin(e, "vec_id", "embedding", 0.45)
    // the vectors fit the budget exactly (the kernel), then one byte
    // short: within the row limit a count picks the exact join
    val bytes = rowBytes(e.select(col("vec_id").cast("long"),
      graft.functions.VectorFunctions.toDouble(col("embedding"))))
    for (budget <- Seq(bytes, bytes - 1)) {
      var (k, jobs): (DataFrame, Seq[String]) = (null, null)
      val counted = countsDuring {
        jobs = jobsDuring {
          k = withDriverBudget(budget)(SimilaritySearch.nearDuplicates(e, "vec_id", "embedding", 0.45))
        }
      }
      val kernel = budget == bytes
      assert(jobs.head == "similarity.collect" && hasJoin(k) != kernel &&
        counted.nonEmpty != kernel, s"budget $budget: $jobs, $counted")
      assert(k.exceptAll(j).count() == 0 && j.exceptAll(k).count() == 0)
      assert(k.count() > 0, "threshold should admit some pairs on the fixture embeddings")
    }
  }

  test("hyperplane-bucketed near-dup pairs are a high-recall subset of exact") {
    val e = tables.embeddings
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("ka"), col("kb")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilaritySearch.nearDuplicates(e, "vec_id", "embedding", 0.45))
    val bucketed = pairs(SimilaritySearch.nearDuplicatesBucketed(e, "vec_id", "embedding", 0.45))
    assert(exact.nonEmpty)
    assert(bucketed.subsetOf(exact), "refine must keep bucketed pairs exact")
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.8, s"deterministic hyperplane recall regressed: $recall")
  }

  test("QualityClassifier.calibrate: exact >= at the threshold, ppm floors, empty cells null") {
    import spark.implicits._
    // scores: 0.1 (=100/1000/1), -0.1, 0.3 — thresholds in tenths
    val scored = Seq(
      (1L, 1L, 100L, true),   // score exactly 0.1
      (2L, 1L, -100L, false), // score -0.1
      (3L, 1L, 300L, false),  // score 0.3
    ).toDF("doc_id", "n_tokens", "weight_sum", "truth")
    val out = QualityClassifier.calibrate(scored, $"truth", Seq(1, 4))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // thr 0.1: preds = docs 1,3 -> tp=1 (doc1), fp=1 (doc3), fn=0, tn=1
    assert(out(1) == ((1L, 1L, 0L, 1L, 500000L, 1000000L)),
      "a score exactly at the threshold must count as predicted-positive")
    // thr 0.4: nothing predicted -> precision undefined (null), recall 0
    assert(out(4) == ((0L, 0L, 1L, 2L, -1L, 0L)))
  }

  test("Rrf.fuse: both-list items outrank single-list items; exact-integer ties break by id") {
    import spark.implicits._
    // query 1: id 10 is rank 3 lexically and rank 2 semantically; id 20 is
    // lexical rank 1 only; id 30 semantic rank 1 only.
    val lex = Seq((1L, 20L, 1L), (1L, 40L, 2L), (1L, 10L, 3L)).toDF("qid", "id", "rank")
    val sem = Seq((1L, 30L, 1L), (1L, 10L, 2L), (1L, 50L, 3L)).toDF("qid", "id", "rank")
    val out = Rrf.fuse(Seq(lex, sem), k = 5)
      .select($"fused_rank", $"id", $"rrf_scaled", $"n_lists")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    def c(r: Long) = Rrf.Scale / (60 + r) // exact integer division mirrors floor()
    assert(out.head == ((1L, 10L, c(3) + c(2), 2L)),
      "the item present in both lists must fuse first")
    // ids 20 and 30 tie exactly (both rank-1 single-list) -> id asc
    assert(out(1) == ((2L, 20L, c(1), 1L)) && out(2) == ((3L, 30L, c(1), 1L)))
    assert(out(3)._2 == 40L && out(4)._2 == 50L)
  }

  test("SimilaritySearch.knnClassify: majority vote, then score, then label tie-breaks") {
    import spark.implicits._
    val probes = Seq((100L, Seq(1f, 0f)), (200L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val labeled = Seq(
      // P100 neighborhood: two label-1 votes beat one perfect-cos label-2
      (1L, Seq(1f, 0f), 2),
      (2L, Seq(0.99f, 0.14f), 1),
      (3L, Seq(0.95f, 0.31f), 1),
      // P200 neighborhood: top-3 is a 1-1-1 vote split where labels 7 and 5
      // also tie on score (identical cos=1.0) -> smallest label wins
      (4L, Seq(0f, 1f), 7),
      (5L, Seq(0f, 2f), 5),
    ).toDF("vec_id", "embedding", "label")
    val out = SimilaritySearch.knnClassify(probes, labeled, "vec_id", "embedding", "label", k = 3)
      .select($"qid", $"pred_label", $"votes").as[(Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(100L) == ((1, 2L)), "majority vote must beat a single higher-cos neighbor")
    assert(out(200L) == ((5, 1L)), "full tie must resolve to the smallest label")

    // equal votes, unequal DECIMAL score sums -> higher summed cosine wins
    val probes2 = Seq((300L, Seq(1f, 0f))).toDF("vec_id", "embedding")
    val labeled2 = Seq(
      (11L, Seq(1f, 0f), 5), (12L, Seq(0.99f, 0.14f), 5),
      (13L, Seq(0.99f, -0.14f), 3), (14L, Seq(0.95f, 0.31f), 3),
    ).toDF("vec_id", "embedding", "label")
    val out2 = SimilaritySearch.knnClassify(probes2, labeled2, "vec_id", "embedding", "label", k = 4)
      .select($"pred_label", $"votes").as[(Int, Long)].collect()
    assert(out2.toSeq == Seq((5, 2L)), "score sum must break the 2-2 vote tie")
  }

  test("IVF (k-means cells + nProbe search) reaches >=60% top-5 recall vs exact") {
    val e = tables.embeddings
    val probes = (0L until 20L).toSeq
    val exact = SimilaritySearch.topK(
      e.filter(col("vec_id") < 20), e, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val m = IvfIndex.build(spark, e, "vec_id", "embedding", nLists = 12)
    val ivf = IvfIndex.topK(spark, m, probes, 5, nProbe = 4)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("IVF append: frozen-centroid argmin assignment, component read-back, replay idempotence") {
    import spark.implicits._
    val e = tables.embeddings
    val base = e.filter(col("vec_id") % 10 =!= 7)
    val batch = e.filter(col("vec_id") % 10 === 7)
    val m = IvfIndex.build(spark, base, "vec_id", "embedding", nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    IvfIndex.persist(m, dir)
    // assign() must pick the argmin-distance cell (ties by cell id)
    val assigned = IvfIndex.assign(batch, "vec_id", "embedding", m.centroids)
      .select($"id", $"cell", $"d2").collect()
    assigned.foreach { r =>
      val v = e.filter(col("vec_id") === r.getLong(0))
        .select(col("embedding")).as[Seq[Float]].head().map(_.toDouble).toArray
      val dists = m.centroids.map { case (c, cv) =>
        val d = v.zip(cv).map { case (x, y) => (x - y) * (x - y) }.sum
        (d, c)
      }
      assert(r.getInt(1) == dists.min._2, s"vec ${r.getLong(0)} not at argmin cell")
    }
    // append twice with the same batchId -> load sees base + batch exactly once
    IvfIndex.append(batch, "vec_id", "embedding", dir, batchId = 0L)
    IvfIndex.append(batch, "vec_id", "embedding", dir, batchId = 0L)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.assignments.count() == e.count(), "replay must overwrite, not duplicate")
    val rb = loaded.assignments.join(batch.select(col("vec_id").as("id")), Seq("id"))
      .select($"id", $"cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assigned.foreach(r => assert(rb(r.getLong(0)) == r.getInt(1),
      "read-back cell must match the assignment"))
  }

  test("IVF persist/load roundtrip probes identically to the in-memory model") {
    val e = tables.embeddings
    val m = IvfIndex.build(spark, e, "vec_id", "embedding", nLists = 12)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    IvfIndex.persist(m, dir)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.map(_._1).toSeq == m.centroids.map(_._1).toSeq)
    assert(loaded.centroids.zip(m.centroids).forall { case ((_, a), (_, b)) =>
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 } })
    def res(mm: IvfIndex.Model) = IvfIndex.topK(spark, mm, (0L until 10L).toSeq, 5, nProbe = 4)
      .select("qid", "rn", "cid").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(res(loaded) == res(m), "persisted index must answer exactly like the built model")
  }

  test("SequencePacking's distributed prefix sum equals the global-window formulation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = tables.documents
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("tokens"))
    // force several range partitions so the offset path actually runs
    val dist = SequencePacking.withChunkIds(docs, "doc_id", col("tokens"), 512, numParts = 7)
      .select(col("doc_id"), col("tokens_before"), col("chunk_id"))
    val naive = docs
      .withColumn("tokens_before",
        sum(col("tokens")).over(Window.orderBy(col("doc_id"))) - col("tokens"))
      .withColumn("chunk_id", expr("tokens_before DIV 512L"))
      .select(col("doc_id"), col("tokens_before"), col("chunk_id"))
    assert(dist.exceptAll(naive).count() == 0 && naive.exceptAll(dist).count() == 0)
    // chunks are dense 0..max and no chunk exceeds capacity by more than
    // one document's spillover (contiguous packing cuts mid-document)
    val chunks = dist.groupBy(col("chunk_id")).count()
      .orderBy(col("chunk_id")).collect().map(_.getLong(0))
    assert(chunks.toSeq == (0L until chunks.length).toSeq)
  }

  test("SaltedJoin produces exactly the plain-join result on a skewed key") {
    import spark.implicits._
    // 90% of fact rows share one hot key — the salting target shape
    val fact = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "payload")
    val dim = Seq((7L, "hot"), (10L, "a"), (20L, "b"), (1000L, "c")).toDF("dk", "name")
    val plain = fact.join(dim, $"k" === $"dk").select($"payload", $"name")
    val salted = SaltedJoin.inner(fact, dim, $"k", $"dk", factor = 8)
      .select($"payload", $"name")
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("one-pass CharShingles equals the transform/substring formulation (incl. multi-byte)") {
    val docs = tables.documents // fixture corpus includes zh (multi-byte UTF-8) docs
    val fast = Dedup.charShingles(docs, "doc_id", "text")
    val ref = ReferenceSpellings.charShinglesExpr(docs, "doc_id", "text")
    assert(fast.exceptAll(ref).count() == 0 && ref.exceptAll(fast).count() == 0)
    import spark.implicits._
    val edge = Seq((1L, "日本語のテキスト"), (2L, "ab"), (3L, "aaaa"), (4L, "")).toDF("doc_id", "text")
    val f2 = Dedup.charShingles(edge, "doc_id", "text").as[(Long, String)].collect().toSet
    val r2 = ReferenceSpellings.charShinglesExpr(edge, "doc_id", "text").as[(Long, String)].collect().toSet
    assert(f2 == r2)
    assert(f2.contains((1L, "日本語")) && f2.contains((3L, "aaa")))
    assert(!f2.exists(_._1 == 2L) && !f2.exists(_._1 == 4L)) // shorter than n -> no rows
  }

  test("fused SimHash Aggregator produces signatures identical to the posexplode form") {
    val docs = tables.documents
    val a = SimHash.packed(docs, "doc_id", "text")
    val b = ReferenceSpellings.packedViaBitRows(docs, "doc_id", "text")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("A8: fused MinHash Aggregator produces signatures identical to the expression form") {
    val sh = Dedup.charShingles(tables.documents, "doc_id", "text")
    val a = MinHashLSH.signatures(sh, 32).select(col("doc_id"), col("sig"))
    val b = ReferenceSpellings.signaturesExpr(sh, 32).select(col("doc_id"), col("sig"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("multi-table hyperplane ANN reaches >=60% top-5 recall vs exact on embeddings") {
    val e = tables.embeddings
    val probes = (0L until 20L).toSeq
    val exact = SimilaritySearch.topK(
      e.filter(col("vec_id") < 20), e, "vec_id", "embedding", 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilaritySearch.topKBucketed(
      e, "vec_id", "embedding", probes, 5, numBits = 4, numTables = 16)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low")
  }
}
