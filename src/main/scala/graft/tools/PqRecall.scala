package graft.tools

import org.apache.spark.sql.functions._

/** PQ quality-at-scale flag (r11 verdict item 6): measures IVF-PQ ADC
  * recall@k and a rank-agreement statistic against the exact cosine
  * top-k, over a configurable query set, and prints ONE JSON line for
  * the slope-ledger artifacts. q156's driver gate pins recall >= 0.6 at
  * the gate tier over 10 queries; this tool is the same measurement run
  * where it matters — sf1, more queries — so the compression claim
  * ("8 B codes replace 256 B floats") carries a measured quality bound
  * at the tier the 100 TB argument extrapolates from.
  *
  * Rank agreement = mean Spearman rho between the exact top-k ranking
  * and the ADC ranking restricted to the common hits (rho over < 2
  * common items is undefined and skipped) — recall says the right
  * neighbors surface; rho says they surface in the right order.
  *
  * Usage: runMain graft.tools.PqRecall <sfDir> [nQueries] [k] [nProbe] [rerank]
  * `nProbe`/`rerank` accept the literal `auto` (the default since r13):
  * read the index's build-time calibrated values
  * ([[graft.operators.ProductQuantization.Params]]) — the defaults the
  * q156 gate actually ships.
  */
object PqRecall {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nQ = if (args.length > 1) args(1).toInt else 50
    val k = if (args.length > 2) args(2).toInt else 5
    val nProbeArg = if (args.length > 3) args(3) else "auto"
    val rerankArg = if (args.length > 4) args(4) else "auto"
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._
    try {
      val t0 = System.nanoTime()
      val ivf = graft.operators.IvfIndex.load(
        spark, graft.queries.TextQueries.ivfIndexDir(spark, dir))
      val pqDir = graft.queries.TextQueries.pqIndexDir(spark, dir)
      val cb = graft.operators.ProductQuantization.loadCodebooks(spark, pqDir)
      val codes = graft.operators.ProductQuantization.loadCodes(spark, pqDir)
      val pqParams = graft.operators.ProductQuantization.loadParams(spark, pqDir)
      val nProbe = if (nProbeArg == "auto") pqParams.map(_.nProbe).getOrElse(4)
        else nProbeArg.toInt
      val rerank = if (rerankArg == "auto") pqParams.map(_.rerank).getOrElse(25)
        else rerankArg.toInt
      val buildSec = (System.nanoTime() - t0) / 1e9
      val e = graft.Tables(spark, dir).embeddings
      // the first nQ ids ACTUALLY PRESENT (ascending), not an assumed
      // contiguous 0..nQ-1 — an absent id would otherwise score a free
      // recall 1.0 below (r12 ADVICE)
      val qids = e.select($"vec_id").orderBy($"vec_id").limit(nQ)
        .as[Long].collect().toSeq
      val exact = graft.operators.SimilaritySearch
        .topK(e.filter($"vec_id".isin(qids.map(Long.box): _*)), e,
          "vec_id", "embedding", k)
        .select($"qid", $"cid", $"rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val adc = graft.operators.ProductQuantization
        .adcTopK(spark, ivf, cb, codes, qids, k = k, nProbe = nProbe, rerank = rerank)
        .select($"qid", $"cid", $"rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      val exByQ = exact.groupBy(_._1)
      val adcByQ = adc.groupBy(_._1)
      // a query with an EMPTY exact result carries no recall evidence —
      // skip it (and report the count) instead of averaging in a free
      // 1.0 (r12 ADVICE)
      val skipped = qids.count(q => exByQ.getOrElse(q, Array.empty).isEmpty)
      val perQ = qids.filter(q => exByQ.getOrElse(q, Array.empty).nonEmpty).map { q =>
        val ex = exByQ.getOrElse(q, Array.empty).map(t => t._2 -> t._3).toMap
        val ad = adcByQ.getOrElse(q, Array.empty).map(t => t._2 -> t._3).toMap
        val common = ex.keySet & ad.keySet
        val recall = common.size.toDouble / ex.size
        // Spearman over the common hits' (exact rank, adc rank) pairs
        val rho = if (common.size < 2) None else {
          val n = common.size
          def ranks(m: Map[Long, Int]): Map[Long, Double] =
            common.toSeq.sortBy(m).zipWithIndex
              .map { case (id, i) => id -> (i + 1).toDouble }.toMap
          val ra = ranks(ex); val rb = ranks(ad)
          val d2 = common.iterator.map { id =>
            val d = ra(id) - rb(id); d * d
          }.sum
          Some(1.0 - 6.0 * d2 / (n * (n.toDouble * n - 1)))
        }
        (recall, rho)
      }
      val meanRecall = if (perQ.isEmpty) 0.0 else perQ.map(_._1).sum / perQ.size
      val rhos = perQ.flatMap(_._2)
      val meanRho = if (rhos.isEmpty) 0.0 else rhos.sum / rhos.size
      val j = String.format(java.util.Locale.ROOT,
        """{"metric":"pq_recall","sf_dir":"%s","n_queries":%d,"n_skipped":%d,"k":%d,"n_probe":%d,"rerank":%d,"params_source":"%s",""" +
          """"recall_at_k":%.4f,"mean_spearman_rho":%.4f,"n_rho_defined":%d,""" +
          """"flag_recall_ge_060":%b,"index_load_sec":%.1f}""",
        dir, Int.box(perQ.size), Int.box(skipped), Int.box(k),
        Int.box(nProbe), Int.box(rerank),
        if (nProbeArg == "auto" || rerankArg == "auto") "calibrated" else "cli",
        Double.box(meanRecall), Double.box(meanRho), Int.box(rhos.size),
        Boolean.box(meanRecall >= 0.6), Double.box(buildSec))
      println(j)
    } finally spark.stop()
  }
}
