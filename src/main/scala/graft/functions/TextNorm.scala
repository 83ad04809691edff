package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a static kernel — the canonical first
  * step of text cleaning for training corpora (é as one codepoint vs
  * e + combining accent must dedupe/hash identically). Spark has no
  * built-in `normalize`; a Scala UDF would break codegen in the hot path,
  * so this stays inside whole-stage codegen via a static helper call.
  *
  * Fast path: `java.text.Normalizer.isNormalized` is a cheap scan that
  * avoids allocation for already-NFC text (virtually all real corpora), so
  * the common case is one pass over the bytes and zero copies.
  */
object TextNorm {
  /** Static entry used by both eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** DataFrame surface: NFC-normalize a string column. */
  def nfcNormalize(c: Column): Column =
    ColumnBridge.staticCall(this, "nfc", StringType)(c)
}
