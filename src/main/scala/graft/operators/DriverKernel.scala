package graft.operators

import graft.SessionConf.withJobDescription
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

/** The one driver-or-distributed choice of the operators. Each operator
  * that can run its pairwise or iterative step as plain Scala over rows
  * held on the driver keeps a distributed spelling of the same result for
  * inputs that do not fit (the broadcast-parameters idiom, and the size
  * test of Spark SQL's broadcast rule). Both bounds live here:
  *
  *  - [[BudgetBytes]], the bytes of what the driver holds, and
  *  - a row limit per call, [[MaxRows]] unless the caller's own index
  *    arithmetic sets another.
  *
  * [[collect]] (and [[collectRows]], its `DataFrame` form) enforces
  * them inside the one job that brings the rows in, and cancels that
  * job once they are passed, so no gate runs a count, a `take` or a
  * fold job first to choose its path: an input within both bounds comes
  * back whole, any other comes back as the bound it passed and the gate
  * runs its distributed spelling.
  *
  * Why 64 MiB: it is the envelope of the kernels at their row limits,
  * with room to spare, and a small share of a 2-8 GB driver heap:
  *  - `SimilaritySearch.nearDuplicates`: 65,536 vectors of 64 doubles,
  *    ≈ 33 MB of values (36 MB as rows);
  *  - `Dedup`'s bitmap refine and containment scan: 65,536 bitmaps of at
  *    most 64 words (`Dedup.MaxBitmapDict` shingles), 35 MB as rows;
  *  - `PageRank`: 4M packed edges × 16 B (two int indices and a double
  *    degree) = 64 MiB exactly, and up to [[PageRank.MaxDriverNodes]]
  *    node ids;
  *  - `Dedup.clusters`: up to [[Dedup.MaxDriverEdges]] (2^20) pair rows
  *    of two long ids, 24 MiB as rows;
  *  - the streaming dedup trigger (`DedupStreams.dedupBatch`): one
  *    micro-batch's rows; at 65,536 rows its 64-bit signatures alone
  *    hold 64 MiB, so a batch of ~1 KB documents reaches both bounds
  *    together. The trigger also skips the collect without a job when
  *    its plan's size estimate exceeds the budget.
  *
  * The same budget bounds a signature-index fold read on the driver
  * (`SignatureIndex.sortedRewrite`). Specs lower it to reach every
  * fallback.
  */
object DriverKernel {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bytes the driver may hold for one kernel's input. */
  private[graft] var BudgetBytes: Long = 64L << 20

  /** Row limit of the pairwise kernels: their pair packing
    * (`DedupStreams`' `(i << 20) | j`) needs fewer than 2^20 ids, and
    * their upper-triangle scans stay metadata-scale. */
  val MaxRows: Int = 65536

  /** One partition's share: its kept elements, or none once it passed
    * a bound, with its element count and bytes. */
  private final case class Part[T](kept: Array[T], rows: Long, bytes: Long)

  /** The bound a [[collect]] passed. */
  sealed trait Over

  /** More elements than the row limit: the input holds more rows than
    * it, so a caller can act on the count without running one. */
  case object OverRows extends Over

  /** The bytes passed the budget within the row limit: the input's row
    * count is not known. */
  case object OverBudget extends Over

  /** Every element of `rdd` as `keep` makes it, in partition order, from
    * one Spark job described `description` — or the bound it passed
    * when the elements number more than `maxRows` or their `bytes` sum
    * past [[BudgetBytes]]. Each task stops once its partition passes
    * either bound and then returns no elements; once the driver's
    * running sums pass either bound it drops what it holds and cancels
    * the job, so it receives about one budget plus the partitions whose
    * tasks were already running, however many partitions the input has.
    * `rdd` is built inside the description's scope, so the stages an
    * adaptive plan runs to build it carry the description too.
    */
  def collect[A, T: ClassTag](rdd: => RDD[A], description: String, maxRows: Long = MaxRows)(
      keep: A => T)(bytes: T => Long): Either[Over, Array[T]] = {
    val budget = BudgetBytes
    val perPartition = (it: Iterator[A]) => {
      val kept = Array.newBuilder[T]
      var (rows, held) = (0L, 0L)
      while (held <= budget && rows <= maxRows && it.hasNext) {
        val t = keep(it.next())
        kept += t
        rows += 1
        held += bytes(t)
      }
      Part(if (held > budget || rows > maxRows) Array.empty[T] else kept.result(), rows, held)
    }
    var (rows, held) = (0L, 0L)
    def over = held > budget || rows > maxRows
    val sc = SparkContext.getOrCreate()
    val parts = withJobDescription(sc, description) {
      val r = rdd
      val parts = new Array[Array[T]](r.getNumPartitions)
      // results arrive one partition at a time on the scheduler's
      // thread; once the sums pass a bound nothing more is kept, and
      // this thread cancels the job
      val passed = Promise[Unit]()
      val job = sc.submitJob(r, perPartition, r.partitions.indices, (i: Int, p: Part[T]) => {
        rows += p.rows
        held += p.bytes
        if (over) {
          parts.indices.foreach(parts(_) = null)
          passed.trySuccess(())
        } else parts(i) = p.kept
      }, ())
      Await.ready(Future.firstCompletedOf(Seq(job, passed.future))(ExecutionContext.parasitic),
        Duration.Inf)
      if (passed.isCompleted) {
        job.cancel()
        // no result arrives once the job has ended
        Await.ready(job, Duration.Inf)
      } else Await.result(job, Duration.Inf) // a failed job throws its error
      parts
    }
    log.info(s"$description: $rows rows, $held bytes " +
      s"(limits $maxRows rows, $budget bytes) -> ${if (over) "distributed" else "driver"}")
    if (rows > maxRows) Left(OverRows)
    else if (held > budget) Left(OverBudget)
    else Right(Array.concat(parts.toIndexedSeq: _*))
  }

  /** Every row of `df`, as `df.collect()` gives it, from one bounded
    * job: the bytes counted are each row's `UnsafeRow` size. */
  def collectRows(
      df: DataFrame, description: String, maxRows: Long = MaxRows): Either[Over, Array[Row]] = {
    val schema = df.schema
    collect(df.queryExecution.toRdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      it.map {
        case u: UnsafeRow => u.copy()
        case r => toUnsafe(r).copy()
      }
    }, description, maxRows)(identity)(_.getSizeInBytes.toLong).map { rows =>
      val toRow = ExpressionEncoder(schema).resolveAndBind().createDeserializer()
      rows.map(toRow)
    }
  }
}
