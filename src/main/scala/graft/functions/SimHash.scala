package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a token array as one codegen'd scalar.
  *
  * The composable pipeline (explode tokens → count per (doc, token) →
  * explode 64 bit positions → sum ±cnt per (doc, pos) → re-aggregate the
  * bit string) is three shuffles and a 64× row blowup. This expression is
  * the whole thing as a map-side scalar: term-frequency hashmap, MD5 per
  * distinct token, ±cnt accumulation over the digest's first 64 bits,
  * rendered as the same '0'/'1' string.
  *
  * Bit parity with the SQL oracle: the oracle derives bit b from hex digit
  * b/4 of `md5(tok)` as `(digit >> (3 - b%4)) & 1` — which is exactly bit
  * b of the digest byte stream MSB-first, i.e. `(byte[b/8] >> (7 - b%8))
  * & 1`. Weights are term frequencies; `> 0` maps to '1'.
  */
object SimHashUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def simhash64(toks: ArrayData): UTF8String = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Int](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      counts.put(t, counts.getOrDefault(t, 0) + 1)
      i += 1
    }
    val w = new Array[Long](64)
    val digest = md.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      digest.reset()
      val d = digest.digest(e.getKey.getBytes)
      val cnt = e.getValue.toLong
      var b = 0
      while (b < 64) {
        if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) w(b) += cnt
        else w(b) -= cnt
        b += 1
      }
    }
    val out = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      out(b) = if (w(b) > 0) '1'.toByte else '0'.toByte
      b += 1
    }
    UTF8String.fromBytes(out)
  }

  def simhash64(tokens: Column): Column =
    ColumnBridge.staticCall(this, "simhash64", StringType)(tokens)
}
