package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a token array, in one pass.
  *
  * The composable form — `array_distinct(transform(sequence(0, size-n),
  * i => array_join(slice(toks, i+1, n), " ")))` — evaluates four nested
  * higher-order functions per row with a fresh array allocation per
  * shingle; at bench scale that chain alone dominated the dedup pipelines
  * (~4 s of a 6 s query). This kernel does the same work in a single
  * tight loop (first-occurrence order, exact same strings: tokens joined
  * by one space), invoked as one call per row from inside whole-stage
  * codegen.
  */
object Shingles {
  /** The kernel (its static forwarder is what `StaticInvoke` calls). */
  def distinctShingles(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= len - n) {
      var s = toks.getUTF8String(i)
      var j = 1
      while (j < n) {
        s = UTF8String.concat(s, Shingles.space, toks.getUTF8String(i + j))
        j += 1
      }
      seen.add(s)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  val space: UTF8String = UTF8String.fromString(" ")

  /** String arrays of every kernel here: shingles are never null. */
  private[functions] val strings = ArrayType(StringType, containsNull = false)

  def distinctShingles(tokens: Column, n: Int): Column =
    ColumnBridge.staticCall(this, "distinctShingles", strings)(tokens, lit(n))
}

/** ALL word n-gram shingles of a token array (duplicates kept, position
  * order) — the frequency-weighted counterpart of [[Shingles]] for
  * operators that weight features by occurrence (DSIR bucket counts,
  * SimHash). Same single-loop rationale: the composable
  * `transform(sequence(...), i => concat_ws(...))` chain evaluates its
  * lambda per element outside whole-stage codegen. */
object AllShingles {
  def allShingles(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      var s = toks.getUTF8String(i)
      var j = 1
      while (j < n) {
        s = UTF8String.concat(s, Shingles.space, toks.getUTF8String(i + j))
        j += 1
      }
      out(i) = s
      i += 1
    }
    new GenericArrayData(out)
  }

  def allShingles(tokens: Column, n: Int): Column = {
    require(n > 0, s"n=$n")
    ColumnBridge.staticCall(this, "allShingles", Shingles.strings)(
      tokens, lit(n))
  }
}

/** Sliding character windows of a string (`window` chars every `stride`),
  * in one pass. The composable `transform(sequence(...), i => substr)`
  * form evaluates its lambda per element OUTSIDE whole-stage codegen and
  * allocates the index array per row — ~10× the cost of this single loop
  * at bench scale (the binary-simhash shingler was the motivating case).
  * Windows keep duplicates (SimHash weights by frequency); a string
  * shorter than one window yields an empty array. */
object CharWindows {
  def charWindows(s: UTF8String, window: Int, stride: Int): ArrayData = {
    val len = s.numChars()
    if (len < window) return new GenericArrayData(Array.empty[Any])
    val n = (len - window) / stride + 1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = s.substring(i * stride, i * stride + window)
      i += 1
    }
    new GenericArrayData(out)
  }

  def charWindows(str: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"window=$window stride=$stride")
    ColumnBridge.staticCall(this, "charWindows", Shingles.strings)(
      str, lit(window), lit(stride))
  }
}
