package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-codepoint character shingles of a string, in one pass.
  *
  * The declarative spelling
  * `transform(sequence(1, length(s)-n+1), i -> substring(s, i, n))`
  * re-scans the string per position: UTF8String.substring must walk
  * from byte 0 to find codepoint i, so shingling one document is
  * O(chars^2) — measured as the DOMINANT cost of the whole near-dup
  * family at sf0.1 (6 of 8 seconds of the LSH pipeline). This
  * expression walks the bytes once, records each codepoint's start
  * offset, and emits every n-gram as a view over the same byte array —
  * O(chars) total — deduplicating on the fly (first-occurrence order,
  * matching array_distinct). UTF-8 correct: offsets step by encoded
  * width, so multi-byte scripts (the zh fixture docs) shingle by
  * codepoint, not byte.
  *
  * One interpreted call per ROW doing the whole loop in JVM code, so
  * CodegenFallback costs nothing measurable here (unlike per-element
  * HOF lambda dispatch, which is why the transform spelling is also
  * interpreter-bound — and quadratic on top).
  */
case class CharShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val seen = new java.util.LinkedHashSet[UTF8String]()
    CharShingles.foreachShingle(bytes, n) { (start, end) =>
      seen.add(UTF8String.fromBytes(bytes, start, end - start)); ()
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharShingles {

  /** Calls `f(start, end)` with the byte range of every n-codepoint
    * window of the UTF-8 `bytes`, in position order, repeats included;
    * nothing when the string has fewer than n codepoints. The one
    * shingle walk: the expression dedups its windows into an array, the
    * driver-bound MinHash kernel (MinHashLSH.collectWithSignatures) hashes
    * them in place.
    */
  def foreachShingle(bytes: Array[Byte], n: Int)(f: (Int, Int) => Unit): Unit = {
    // one pass: byte offset of every codepoint start (+ end sentinel)
    var count = 0
    var i = 0
    val offsets = new Array[Int](bytes.length + 1)
    while (i < bytes.length) {
      offsets(count) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      count += 1
    }
    offsets(count) = bytes.length
    var k = 0
    while (k + n <= count) {
      f(offsets(k), offsets(k + n))
      k += 1
    }
  }
}
