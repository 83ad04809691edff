package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k MinHash components of a shingle array in one map-side pass.
  *
  * Component i is `min(md5(i || '|' || shingle))` — a hex-string min is a
  * valid permutation-min because md5 is uniform on the shingle space, and
  * hex order equals digest-byte order, so the min is tracked on raw
  * digests and rendered to hex once at the end.
  *
  * Replaces the exploded-shingle `groupBy(doc).agg(min(md5(...)) × k)`
  * pipeline: same output, no shuffle, k·|shingles| digests computed in a
  * tight loop inside whole-stage codegen.
  */
object MinHashUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def signatures(shingles: ArrayData, k: Int): ArrayData = {
    val prefixes = Array.tabulate(k)(i =>
      (i.toString + "|").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val mins = new Array[Array[Byte]](k)
    val digest = md.get()
    val n = shingles.numElements()
    var s = 0
    while (s < n) {
      val bytes = shingles.getUTF8String(s).getBytes
      var i = 0
      while (i < k) {
        digest.reset()
        digest.update(prefixes(i))
        digest.update(bytes)
        val d = digest.digest()
        if (mins(i) == null || unsignedLess(d, mins(i))) mins(i) = d
        i += 1
      }
      s += 1
    }
    new GenericArrayData(mins.map(d =>
      if (d == null) null else UTF8String.fromString(hex(d))): Array[Any])
  }

  def signatures(shingles: Column, k: Int): Column =
    ColumnBridge.staticCall(this, "signatures",
      ArrayType(StringType, containsNull = true))(shingles, lit(k))
}
