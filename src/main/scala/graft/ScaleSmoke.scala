package graft

import graft.operators.{Dedup, SimilaritySearch, SubstringDedup}
import org.apache.spark.sql.functions._

/** Scale smoke for the near-dup family: replicates the sf0.1 corpus past
  * the operators' exact-mode caps (documents and embeddings both cross
  * 65 536 rows) and drives the production scale paths end-to-end —
  * the paths the correctness gate can't reach, because at gate scale the
  * operators correctly pick the exact plans:
  *
  *  - `Dedup.jaccardPairs` must LOG and take the MinHash-LSH switch;
  *  - banded candidate generation runs against a boilerplate-heavy corpus
  *    (every document has `reps` near-copies — J ≈ 0.98 siblings), the
  *    boilerplate shape the hot-bucket star cap exists for;
  *  - `Dedup.clusters` consumes the ~10⁶-edge pair graph (right at the
  *    driver union-find / distributed label-propagation boundary);
  *  - `SimilaritySearch.nearDuplicates` must take the hyperplane-
  *    bucketed switch over the replicated embedding corpus.
  *
  * Each replica appends a distinct ` v<k>` suffix (documents) /
  * perturbs one dimension (embeddings) so replicas are NEAR- not exact
  * duplicates — exact-dup short circuits would make the run vacuous.
  *
  * Prints one JSON line with timings and result cardinalities. A
  * diagnostic main — NOT part of the gate or bench; run as:
  *   sbt "runMain graft.ScaleSmoke [reps]"     (default reps = 20)
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(20)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t = Tables(spark, "/root/testdata/sf0.1")
    val nDocs0 = t.documents.count()
    val reps0 = spark.range(0, reps).toDF("rep")
    // doc_id namespaced per replica; near-dup (not exact-dup) siblings
    val docs = t.documents.crossJoin(broadcast(reps0))
      .select(($"doc_id" * reps + $"rep").as("doc_id"),
        concat($"text", lit(" v"), $"rep").as("text"))
    // dimension-agnostic perturbation: bump the LAST slot, whatever the
    // fixture's embedding width is (a hardcoded width would silently
    // truncate a regenerated higher-dim fixture)
    val embs = t.embeddings.crossJoin(broadcast(reps0))
      .select(($"vec_id" * reps + $"rep").as("vec_id"),
        concat(slice($"embedding", lit(1), size($"embedding") - 1),
          array(element_at($"embedding", -1) + $"rep".cast("float") * lit(0.01f)))
          .as("embedding"))

    // The corpus caches must SURVIVE across steps (the timings attribute
    // operator cost, not corpus re-derivation), while each operator's
    // internal caches must NOT leak into the next step. So: time the step,
    // then drop everything and re-pin the corpus outside the timed region.
    def rewarm(): Unit = {
      spark.catalog.clearCache()
      docs.cache().count(); embs.cache().count()
    }
    def timed[A](tag: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scale] $tag%-28s $dt%8.1f s")
      rewarm()
      (r, dt)
    }

    val (nDocs, _) = timed("materialize corpus")(docs.cache().count())
    val (nExactGroups, tExact) = timed("exact dedup") {
      Dedup.exact(docs, $"text", $"doc_id").count()
    }
    // Auto MUST cross to the LSH path: docs > MaxExactDocs
    assert(nDocs > Dedup.MaxExactDocs, s"corpus $nDocs under the exact cap — raise reps")
    val ((nPairs, nClusters), tLsh) = timed("jaccardPairs(Auto->LSH) + clusters") {
      val sh = Dedup.charShingles(docs, "doc_id", "text", 3)
      val pairs = Dedup.jaccardPairs(sh, 0.9).select($"da", $"db").cache()
      val np = pairs.count()
      val nc = Dedup.clusters(pairs).select($"cluster_id").distinct().count()
      (np, nc)
    }
    val (nCosPairs, tCos) = timed("cosine nearDuplicates(Auto->buckets)") {
      SimilaritySearch.nearDuplicates(embs, "vec_id", "embedding", 0.9).count()
    }
    // containment past the bitmap-kernel comfort zone: candidate pairs
    // from MinHash banding restrict the ForPairs join shape — the
    // at-scale form the gate-scale query never reaches (with the
    // documented caveat that Jaccard banding under-recalls
    // high-containment/low-Jaccard pairs)
    val (nContain, tContain) = timed("containment(candidate-restricted)") {
      val cands = graft.operators.MinHashLSH.candidatePairs(
        graft.operators.MinHashLSH.signatures(Dedup.charShingles(docs, "doc_id", "text", 3)))
      Dedup.containmentPairs(
        Dedup.charShingles(docs, "doc_id", "text", 5), 0.95, Some(cands)).count()
    }

    // substring-dedup past MaxDirectDocs: Auto must take the winnowed
    // discovery + stride-1 refine branch (the 100 TB path; the gate-scale
    // corpus correctly pins Direct). On this corpus every doc is a
    // near-replica, so discovery flags essentially all docs as candidates
    // — the worst case for the refine, making this an upper bound, while
    // the discovery pass itself stays row-local + one fingerprint shuffle.
    assert(nDocs > SubstringDedup.MaxDirectDocs,
      s"corpus $nDocs under the substring direct cap — raise reps")
    val (nSpanDocs, tSpans) = timed("spanStats(Auto->strided)") {
      SubstringDedup.spanStats(docs, "doc_id", "text", minLen = 20, minDocs = 2).count()
    }

    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    println(s"""{"metric":"scale_smoke","reps":$reps,"docs":$nDocs,"base_docs":$nDocs0,""" +
      s""""exact_groups":$nExactGroups,"lsh_pairs":$nPairs,"clusters":$nClusters,""" +
      s""""cos_pairs":$nCosPairs,"containment_pairs":$nContain,"span_docs":$nSpanDocs,""" +
      s""""sec_exact":${ms(tExact)},"sec_lsh_cluster":${ms(tLsh)},"sec_cos":${ms(tCos)},""" +
      s""""sec_containment":${ms(tContain)},"sec_spans":${ms(tSpans)}}""")
    spark.stop()
  }
}
