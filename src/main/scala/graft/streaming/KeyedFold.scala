package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one keyed-state primitive of the streaming operators: a fold per key
  * over each micro-batch — the shape of the reference's `getset`-with-TTL
  * state store (`key_value_store.py:131-150`) and Structured Streaming's
  * arbitrary stateful operator (one `flatMapGroupsWithState`, append mode).
  *
  * The grouping is relational (`groupBy` on the named `keys` columns), not
  * a typed key lambda: no `AppendColumns` deserializes each event to compute
  * its key, and the state store's key columns keep the events' own names.
  * Within a batch a key's events fold in `order`; `step` gets the state so
  * far (None for a new key) and one event, and returns the next state and
  * at most one output row. The state is written once per key and batch,
  * then `timeout` is set from the batch's last event or from the state.
  * When a key's timeout fires, `onExpiry` gets the key and its last state,
  * and the state is removed.
  */
final class KeyedFold[K, E, S, O](
    keys: Seq[String],
    order: Ordering[E],
    timeout: KeyedFold.Timeout[S, E] = KeyedFold.NoTimeout,
    onExpiry: (K, S) => Iterator[O] = (_: K, _: S) => Iterator.empty)(
    step: (Option[S], E) => (S, Option[O])) extends Serializable {

  /** One key's call of the stateful operator: a batch, or its expiry. */
  def group(key: K, events: Iterator[E], state: GroupState[S]): Iterator[O] =
    if (state.hasTimedOut) {
      val last = state.get
      state.remove()
      onExpiry(key, last)
    } else {
      val batch = ArrayBuffer.from(events).sortInPlace()(order)
      val out = new ArrayBuffer[O](batch.length)
      var s = state.getOption
      batch.foreach { e =>
        val (next, o) = step(s, e)
        s = Some(next)
        if (o.isDefined) out += o.get
      }
      s.foreach { v =>
        state.update(v)
        timeout.set(state, v, batch.last)
      }
      out.iterator
    }

  /** The fold over `ds`; the key, state and output encoders derive from
    * their Scala types, as `spark.implicits` derives them. */
  def apply(ds: Dataset[E])(implicit k: TypeTag[K], s: TypeTag[S],
                            o: TypeTag[O]): Dataset[O] =
    ds.toDF().groupBy(keys.map(col): _*).as[K, E](ExpressionEncoder[K](), ds.encoder)
      .flatMapGroupsWithState[S, O](OutputMode.Append, timeout.conf)(group)(
        ExpressionEncoder[S](), ExpressionEncoder[O]())
}

object KeyedFold {
  /** When a key's state expires: Spark's timeout mode, and the timeout a
    * batch sets from the key's new state `s` and its `last` event. */
  sealed abstract class Timeout[-S, -E](val conf: GroupStateTimeout)
      extends Serializable {
    def set(state: GroupState[_], s: S, last: E): Unit = ()
  }
  /** Never: the state lives as long as the query. */
  case object NoTimeout extends Timeout[Any, Any](GroupStateTimeout.NoTimeout)
  /** Processing time: `ms(last event)` milliseconds after the key's last
    * batch. */
  final case class IdleFor[E](ms: E => Long)
      extends Timeout[Any, E](GroupStateTimeout.ProcessingTimeTimeout) {
    override def set(state: GroupState[_], s: Any, last: E): Unit =
      state.setTimeoutDuration(ms(last))
  }
  /** Event time: once the watermark passes `ms(state)` (epoch ms). */
  final case class FireAt[S](ms: S => Long)
      extends Timeout[S, Any](GroupStateTimeout.EventTimeTimeout) {
    override def set(state: GroupState[_], s: S, last: Any): Unit =
      state.setTimeoutTimestamp(ms(s))
  }
}
