package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document n-gram frequency statistics in one map-side pass:
  * `[total n-grams, distinct n-grams, occurrences of the most frequent
  * n-gram]`. Feeds the Gopher-style repetition filters in
  * [[graft.llm.TextAnalysis.repetitionSignals]].
  *
  * The composable form (transform → group or a sort + run-length
  * aggregate) is 4+ nested higher-order functions evaluated interpreted;
  * like [[Shingles]]/[[MinHashUtil]] this collapses the work
  * into a single frequency-map loop callable from whole-stage codegen.
  */
object RepetitionUtil {

  def ngramStats(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array[Any](0, 0, 0))
    val freq = new java.util.HashMap[UTF8String, java.lang.Integer]()
    var top = 0
    var i = 0
    while (i <= len - n) {
      var s = toks.getUTF8String(i)
      var j = 1
      while (j < n) {
        s = UTF8String.concat(s, Shingles.space, toks.getUTF8String(i + j))
        j += 1
      }
      val c = freq.merge(s, 1, (a, b) => Integer.valueOf(a.intValue + b.intValue))
      if (c > top) top = c
      i += 1
    }
    new GenericArrayData(Array[Any](len - n + 1, freq.size, top))
  }

  def ngramStats(tokens: Column, n: Int): Column =
    ColumnBridge.staticCall(this, "ngramStats",
      ArrayType(IntegerType, containsNull = false))(tokens, lit(n))
}
