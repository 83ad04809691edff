package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Failure and full-result accounting: a thrown operation is listed by
  * name and never timed, and a row is timed on its whole result. */
class AccountingSpec extends SparkSuite {

  test("an operation that throws is failed by name and adds no timing") {
    val rec = new Recorder
    rec.op("read", "ok#1")(42)(_ => None)
    rec.op[Int]("read", "boom#2")(throw new IllegalStateException("injected"))(_ => None)
    rec.op("read", "ok#3")(7)(_ => None)
    assert(rec.attempted == 3)
    assert(rec.failed.map(_.name) == Seq("boom#2"))
    assert(rec.failed.head.why.contains("IllegalStateException"))
    assert(rec.timings("read").size == 2)
  }

  test("an operation whose output fails its check is failed and adds no timing") {
    val rec = new Recorder
    val out = rec.op("write", "mismatch#1")(Seq(1, 2))(r => if (r.sum != 4) Some("sum") else None)
    assert(out.isEmpty)
    assert(rec.failed.map(_.name) == Seq("mismatch#1"))
    assert(rec.timings("write").isEmpty)
  }

  test("a row that count() prunes (a1_rate) is timed on its full result") {
    val events = dir.resolve("data")
    spark.range(400).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      (col("id") % 7).as("user_id"),
      when(col("id") % 3 === 0, "click").otherwise("view").as("event_type"),
      (col("id") * 10 % 997).cast("double").as("value"),
      lit("{}").as("props"))
      .write.parquet(events.resolve("events.parquet").toString)

    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def lastPlan(n: Int): String = {
      val deadline = System.currentTimeMillis() + 10000
      while (plans.size < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
      plans.asScala.last
    }
    try {
      graft.SparkEntry.queries("a1_rate")(spark, events.toString).count()
      val counted = lastPlan(1)
      val rec = new Recorder
      val out = rec.op("row", "a1_rate")(
        CurationAnn.execute(spark, events.toString, "a1_rate", new Tracer(false)))(_ => None)
      val forced = lastPlan(2)
      assert(!counted.contains("Window"), counted)
      assert(forced.contains("Window"), forced)
      assert(out.get._2.size == 400)
      assert(out.get._2.exists(r => !r.isNullAt(r.fieldIndex("rate"))))
      assert(rec.timings("row").size == 1)
    } finally spark.listenerManager.unregister(listener)
  }
}
