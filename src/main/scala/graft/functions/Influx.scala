package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{MapType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** InfluxDB line-protocol rendering — reference
  * `consumers/influxdb/consumer.py:50-394`. Each line is built by one
  * static kernel ([[renderLine]], called through Spark's `StaticInvoke`
  * from inside whole-stage codegen), so the renderer is a map-only stage
  * that scales linearly with input, and a micro-batch plans one call
  * instead of a chain of regex, sort and lambda expressions.
  */
object Influx {

  /** Tag maps as the kernels take them (values may be null). */
  private val Tags = MapType(StringType, StringType)

  /** `[0-9a-zA-Z_]`: the bytes a measurement keeps (`consumer.py:84-87`).
    * Every other character, multi-byte ones included, is a run of bytes
    * outside this set. */
  private def wordByte(b: Byte): Boolean =
    (b >= '0' && b <= '9') || (b >= 'a' && b <= 'z') ||
      (b >= 'A' && b <= 'Z') || b == '_'

  /** `,`, `=` and Java's six `\s` characters: the bytes a tag value
    * escapes with a backslash (`consumer.py:146-158`) and a tag key must
    * not contain. */
  private def specialByte(b: Byte): Boolean =
    b == ',' || b == '=' || b == ' ' || b == '\t' || b == '\n' ||
      b == 0x0B || b == '\f' || b == '\r'

  /** A tag value as the reference's string handling sees it: bytes that
    * are not valid UTF-8 decode to U+FFFD. */
  private def decoded(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  /** A byte buffer of known capacity: the kernel sizes it up front. */
  private final class Buf(cap: Int) {
    val bytes = new Array[Byte](cap)
    var n = 0
    def add(b: Byte): Unit = { bytes(n) = b; n += 1 }
    def add(s: UTF8String): Unit = {
      s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + n)
      n += s.numBytes()
    }
  }

  /** The kernel: `measurement,tags fields timestamp` (`consumer.py:160-169`).
    *
    *  - each run of non-`[0-9a-zA-Z_]` characters in the measurement
    *    becomes one `_`;
    *  - tags follow in key byte order (a map's keys are unique),
    *    `key=value`, comma-separated; the reference escapes ONLY the tag
    *    VALUE, never the key (`consumer.py:123-126`), so a key renders as
    *    is (keys are code-authored identifiers; [[assertSafeTagKeys]]
    *    guards them);
    *  - a tag whose value is null is left out;
    *  - the three parts are joined by one space, and a null part is left
    *    out with its space: the measurement-and-tags part is null when
    *    the measurement or the map is.
    */
  def renderLine(measurement: UTF8String, tags: MapData, fields: UTF8String,
                 ts: UTF8String): UTF8String = {
    val head = measurement != null && tags != null
    val n = if (head) tags.numElements() else 0
    val keys = if (head) tags.keyArray() else null
    val values = if (head) tags.valueArray() else null
    val vals = new Array[UTF8String](n)
    var cap = 2
    var i = 0
    while (i < n) {
      if (!values.isNullAt(i)) {
        vals(i) = decoded(values.getUTF8String(i))
        cap += keys.getUTF8String(i).numBytes() + 2 * vals(i).numBytes() + 2
      }
      i += 1
    }
    if (head) cap += measurement.numBytes() + 1
    if (fields != null) cap += fields.numBytes() + 1
    if (ts != null) cap += ts.numBytes() + 1
    val out = new Buf(cap)

    if (head) {
      var run = false
      i = 0
      while (i < measurement.numBytes()) {
        val b = measurement.getByte(i)
        if (wordByte(b)) { out.add(b); run = false }
        else if (!run) { out.add('_'.toByte); run = true }
        i += 1
      }
      out.add(','.toByte)
      // insertion sort of the entry indices: tag maps hold a handful
      val order = Array.range(0, n)
      i = 1
      while (i < n) {
        val e = order(i)
        val k = keys.getUTF8String(e)
        var j = i - 1
        while (j >= 0 && keys.getUTF8String(order(j)).binaryCompare(k) > 0) {
          order(j + 1) = order(j); j -= 1
        }
        order(j + 1) = e
        i += 1
      }
      var first = true
      i = 0
      while (i < n) {
        val v = vals(order(i))
        if (v != null) {
          if (!first) out.add(','.toByte)
          first = false
          out.add(keys.getUTF8String(order(i)))
          out.add('='.toByte)
          var k = 0
          while (k < v.numBytes()) {
            val b = v.getByte(k)
            if (specialByte(b)) out.add('\\'.toByte)
            out.add(b)
            k += 1
          }
        }
        i += 1
      }
    }
    if (fields != null) {
      if (head) out.add(' '.toByte)
      out.add(fields)
    }
    if (ts != null) {
      if (head || fields != null) out.add(' '.toByte)
      out.add(ts)
    }
    UTF8String.fromBytes(out.bytes, 0, out.n)
  }

  /** Guard for the tag-key parity decision in [[renderLine]]: the
    * reference escapes only tag VALUES, so a tag KEY containing
    * `,`/`=`/whitespace would emit corrupt line protocol on BOTH engines.
    * Keys are code-authored identifiers in practice — this check makes
    * that assumption loud at the sink boundary instead of corrupting the
    * wire. Returns the map unchanged when every key is safe; raises
    * `assert_true`'s error otherwise, as does a null map. */
  def checkTagKeys(tags: MapData): MapData = {
    if (tags == null) throw ColumnBridge.userRaisedError(null)
    val keys = tags.keyArray()
    var i = 0
    while (i < keys.numElements()) {
      val k = keys.getUTF8String(i)
      var j = 0
      while (j < k.numBytes()) {
        if (specialByte(k.getByte(j)))
          throw ColumnBridge.userRaisedError(
            "influx tag key contains ',', '=', or whitespace: " + jsonArray(keys))
        j += 1
      }
      i += 1
    }
    tags
  }

  private val json = new com.fasterxml.jackson.core.JsonFactory()

  /** `to_json` of a string array: the key list the error message shows. */
  private def jsonArray(a: ArrayData): String = {
    val w = new java.io.StringWriter()
    val g = json.createGenerator(w)
    g.writeStartArray()
    var i = 0
    while (i < a.numElements()) { g.writeString(a.getUTF8String(i).toString); i += 1 }
    g.writeEndArray()
    g.close()
    w.toString
  }

  /** Tag keys checked by [[checkTagKeys]], as a map column. */
  def assertSafeTagKeys(m: Column): Column =
    ColumnBridge.staticCall(this, "checkTagKeys", Tags, propagateNull = false)(
      m.cast(Tags))

  /** One line: `measurement,tags fields timestamp` ([[renderLine]]); the
    * timestamp is integer seconds (`consumer.py:90-100`), cast from
    * `tsSeconds` under the session's ANSI rules. */
  def line(measurement: Column, tags: Column, fields: Column,
           tsSeconds: Column): Column =
    ColumnBridge.staticCall(this, "renderLine", StringType, propagateNull = false)(
      measurement.cast(StringType), tags.cast(Tags), fields.cast(StringType),
      tsSeconds.cast("long").cast("string"))
}
