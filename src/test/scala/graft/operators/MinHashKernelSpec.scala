package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-bound per-row MinHash kernel (MinHashLSH
  * .collectWithSignatures + bandKeysOf) must give exactly what the
  * distributed operators give: the same 64-bit signature, hence the same
  * 8-bit fold, and the same (band, bkey) rows as MinHashLSH.signatures +
  * bandKeys over Dedup.charShingles. It must also bring back every input
  * row unchanged, with its id cast to long, signature or not.
  */
class MinHashKernelSpec extends SparkSpec {

  import spark.implicits._

  private val Bands = 32
  private val RowsPerBand = 4
  private val NumPerms = Bands * RowsPerBand
  private val Desc = "minhash.collect"

  private type Result = (Map[Long, (Seq[Long], Seq[Long])], Set[(Long, Int, Long)])

  /** doc_id -> (sig, sig8) and (doc_id, band, bkey) rows, the way the
    * distributed spelling derives them. */
  private def reference(df: DataFrame): Result = {
    val sigs = MinHashLSH.signatures(Dedup.charShingles(df, "doc_id", "text"), NumPerms)
      .withColumn("sig8", transform(col("sig"), x => x.bitwiseAND(lit(255L))))
    val sigMap = sigs.select(col("doc_id").cast("long"), col("sig"), col("sig8"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map { case (id, s, s8) => id -> (s, s8) }.toMap
    val bands = MinHashLSH.bandKeys(sigs, Bands, RowsPerBand)
      .select(col("doc_id").cast("long"), col("band"), col("bkey"))
      .as[(Long, Int, Long)].collect().toSet
    (sigMap, bands)
  }

  /** The same, the way the driver kernel derives them. */
  private def kernel(df: DataFrame): Result = {
    val sigs = MinHashLSH.collectWithSignatures(df, "doc_id", "text", Desc, NumPerms).get.sigs
    val bands = sigs.iterator.flatMap { case (id, s) =>
      MinHashLSH.bandKeysOf(s, Bands, RowsPerBand).zipWithIndex
        .map { case (bkey, band) => (id, band, bkey) }
    }.toSet
    (sigs.map { case (id, s) => id -> (s.toSeq, s.map(_ & 255L).toSeq) }, bands)
  }

  private def assertIdentical(df: DataFrame): Unit = {
    val (refSig, refBands) = reference(df)
    val (sig, bands) = kernel(df)
    assert(sig.keySet == refSig.keySet, "documents with a signature differ")
    refSig.foreach { case (id, (s, s8)) =>
      assert(sig(id)._1 == s, s"signature of doc $id differs")
      assert(sig(id)._2 == s8, s"sig8 of doc $id differs")
    }
    assert(bands == refBands, "(band, bkey) rows differ")
    assertRowsReturned(df)
  }

  /** The collected rows are the input rows, each with its id as
    * `cast(doc_id as long)` gives it. */
  private def assertRowsReturned(df: DataFrame): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val c = MinHashLSH.collectWithSignatures(df, "doc_id", "text", Desc, NumPerms).get
    val got = c.rows.toSeq.map(r =>
      CatalystTypeConverters.convertToScala(r, df.schema).asInstanceOf[Row])
      .zip(c.ids.toSeq.map(Option(_).map(_.longValue)))
    val want = df.select(col("*"), col("doc_id").cast("long")).collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.init) -> Option(r.get(r.length - 1)).map(_.asInstanceOf[Long]))
    assert(got.sortBy(_.toString) == want.sortBy(_.toString), "collected rows differ from the input")
  }

  test("per-row kernel equals signatures + bandKeys on the fixture corpus") {
    val docs = tables.documents.select(col("doc_id"), col("text"))
    assert(docs.count() > 0)
    assertIdentical(docs)
    // several partitions: the per-row job is partition-local
    assertIdentical(docs.repartition(3))
  }

  test("per-row kernel equals signatures + bandKeys on multi-byte, case, short and repeated-id rows") {
    val edge = Seq[(Long, String)](
      1L -> "日本語のテキストと中文的文本混在した文書です",
      2L -> "去重需要稳定的签名和分桶键",
      // non-ASCII upper case: lower() maps İ to two codepoints and ẞ to ß
      3L -> "İSTANBUL ve İZMİR arasında ẞTRASSE GROẞ",
      4L -> "İİ", // two codepoints before lower(), four after: filtered as short
      5L -> "ẞẞẞ",
      6L -> "ab", // shorter than the shingle width: no signature
      7L -> "",
      8L -> null,
      9L -> "the quick brown fox jumps over the lazy dog",
      // one id on two rows: the signature is the min over both texts
      10L -> "first half of a document delivered twice",
      10L -> "SECOND half of a document delivered twice",
      11L -> "aaaa",
      11L -> "aaaa"
    ).toDF("doc_id", "text")
    assertIdentical(edge)
    assertIdentical(edge.repartition(4))
    val (sig, _) = kernel(edge)
    assert(!sig.contains(4L) && !sig.contains(6L) && !sig.contains(7L) && !sig.contains(8L))
    assert(sig.contains(3L) && sig.contains(5L) && sig.contains(10L))
    // a null id comes back with its row when its text gives no shingle
    val nullIds = Seq[(Option[Long], String)](
      None -> "zz", None -> null, Some(12L) -> "ab", Some(13L) -> "a longer document text")
      .toDF("doc_id", "text")
    assertRowsReturned(nullIds)
    assertRowsReturned(nullIds.repartition(3))
    val c = MinHashLSH.collectWithSignatures(nullIds, "doc_id", "text", Desc, NumPerms).get
    assert(c.rows.length == 4 && c.ids.count(_ == null) == 2)
    assert(c.sigs.keySet == Set(13L), s"only doc 13 has a shingle: ${c.sigs.keySet}")
  }

  test("per-row kernel accepts int ids and rejects non-integral ones") {
    val ints = Seq(1 -> "integer keyed document one", 2 -> "integer keyed document two")
      .toDF("doc_id", "text")
    assertIdentical(ints)
    val strs = Seq("a" -> "string keyed document").toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      MinHashLSH.collectWithSignatures(strs, "doc_id", "text", Desc, NumPerms))
  }

  test("the collect gives up past its row-byte bound, in one partition or across several") {
    val docs = (1L to 8L).map(i => i -> s"document number $i with some text in it").toDF("doc_id", "text")
    val c = MinHashLSH.collectWithSignatures(docs, "doc_id", "text", Desc, NumPerms).get
    val bytes = c.rows.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
      .getSizeInBytes.toLong).sum
    for (df <- Seq(docs.coalesce(1), docs.repartition(4))) {
      assert(withDriverBudget(bytes)(MinHashLSH.collectWithSignatures(
        df, "doc_id", "text", Desc, NumPerms)).isDefined, "at the bound")
      assert(withDriverBudget(bytes - 1)(MinHashLSH.collectWithSignatures(
        df, "doc_id", "text", Desc, NumPerms)).isEmpty, "past the bound")
    }
  }
}
