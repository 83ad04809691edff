package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03)
  * in one map-side pass: token array → distinct sliding-window minima of
  * the per-gram md5 16-hex prefixes.
  *
  * Exactly equivalent to the declarative formulation
  * {{{
  *   grams = transform(sequence(0, n-k),
  *             i -> substring(md5(array_join(slice(toks, i+1, k), ' ')), 1, 16))
  *   sel   = transform(sequence(0, greatest(size(grams)-w, 0)),
  *             j -> array_min(slice(grams, j+1, w)))
  *   array_distinct(sel)
  * }}}
  * but ~an order of magnitude cheaper: Spark's higher-order lambdas are
  * interpreted (CodegenFallback) and each window allocates a slice, where
  * this runs one tight digest loop + one window scan inside whole-stage
  * codegen. The 16-hex prefix is the first 8 digest bytes, tracked as an
  * unsigned long (hex order = digest-byte order = unsigned-long order),
  * rendered to hex once per SELECTED fingerprint.
  */
object WinnowUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray
  private val space = Array(' '.toByte)

  private def hex16(v: Long): UTF8String = {
    val out = new Array[Char](16)
    var i = 0
    while (i < 16) {
      out(i) = hexChars(((v >>> ((15 - i) * 4)) & 0xf).toInt)
      i += 1
    }
    UTF8String.fromString(new String(out))
  }

  def fingerprints(toks: ArrayData, k: Int, w: Int): ArrayData = {
    val nTok = toks.numElements()
    if (nTok < k) return new GenericArrayData(Array.empty[Any])
    val nG = nTok - k + 1
    val digest = md.get()
    // gram prefixes: first 8 md5 bytes of the space-joined k-gram, as an
    // unsigned-comparable long
    val pref = new Array[Long](nG)
    var i = 0
    while (i < nG) {
      digest.reset()
      // null tokens are skipped with their separator, matching
      // array_join's null handling in the declarative formulation
      var first = true
      var j = 0
      while (j < k) {
        if (!toks.isNullAt(i + j)) {
          if (!first) digest.update(space)
          digest.update(toks.getUTF8String(i + j).getBytes)
          first = false
        }
        j += 1
      }
      val d = digest.digest()
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      pref(i) = v
      i += 1
    }
    // sliding minima over w grams (final short window if nG < w), distinct
    // in first-selection order
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    val nW = math.max(nG - w, 0) + 1
    var jw = 0
    while (jw < nW) {
      var best = pref(jw)
      var m = jw + 1
      val end = math.min(jw + w, nG)
      while (m < end) {
        if (java.lang.Long.compareUnsigned(pref(m), best) < 0) best = pref(m)
        m += 1
      }
      seen.add(best)
      jw += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = hex16(it.next()); o += 1 }
    new GenericArrayData(out)
  }
}

object Winnow {
  /** Distinct winnowing fingerprints of a token-array column. */
  def fingerprints(toks: Column, k: Int, w: Int): Column = {
    // checked here, where the SQL function builds too, so bad params fail
    // at resolution instead of crashing the kernel inside an executor task
    require(k >= 1 && w >= 1, s"winnow_fingerprints: k=$k, w=$w must be >= 1")
    ColumnBridge.staticCall(WinnowUtil, "fingerprints", Shingles.strings)(
      toks, lit(k), lit(w))
  }
}
