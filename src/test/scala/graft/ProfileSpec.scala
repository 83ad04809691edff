package graft

import org.apache.spark.sql.functions.expr

import graft.tools.Profile

/** The shared row runner behind `Bench` and `Profile`: a row that throws
  * is reported as failed, never as a timing. */
class ProfileSpec extends SparkSpec {
  private val q1: Bench.Query = SparkEntry.queries("q1_pricing")
  // fails at execution, not at build: the filter forces raise_error
  private val lazyBoom: Bench.Query = (s, _) =>
    s.range(3).toDF().filter(expr("raise_error('injected') IS NULL"))

  test("bench: a row that throws in either pass is listed as failed and " +
       "left out of the board") {
    var calls = 0
    val qs: Map[String, Bench.Query] = Map(
      "q1_pricing" -> q1,
      "boom" -> ((_, _) => throw new IllegalStateException("injected")),
      "lazy_boom" -> lazyBoom,
      "second_pass_boom" -> ((s, _) => {
        calls += 1
        if (calls > 1) sys.error("injected") else s.range(1).toDF()
      }))
    val first = Bench.pass(spark, sf001, qs)
    val second = Bench.pass(spark, sf001, qs)
    assert(first("boom").isLeft && first("lazy_boom").isLeft)
    assert(first("second_pass_boom").isRight)
    val (board, failed) = Bench.board(Seq(first, second))
    assert(failed == Seq("boom", "lazy_boom", "second_pass_boom"))
    assert(board.keySet == Set("q1_pricing"))
    assert(board("q1_pricing") > 0)
  }

  test("profile: a healthy row reports jobs, tasks and execute time; a " +
       "throwing row is reported as failed") {
    val l = new Profile.Listener
    spark.sparkContext.addSparkListener(l)
    try {
      val ok = Profile.profile(spark, sf001, l, "q1_pricing", q1)
      val row = ok.toOption.get
      assert(row.stats.jobs >= 1 && row.stats.tasks >= 1, row)
      assert(row.execute > 0 && row.stats.top.nonEmpty, row)
      assert(Profile.json("q1_pricing", 1, ok).contains("\"jobs\":"))
      val bad = Profile.profile(spark, sf001, l, "lazy_boom", lazyBoom)
      assert(bad.isLeft)
      assert(Profile.json("lazy_boom", 1, bad).contains("\"failed\":"))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("profile --explain: the normalized plan of a row is the same text " +
       "on every build") {
    def dump() = Profile.normalize(Profile.plan(spark, sf001, "q1_pricing"))
    val a = dump()
    assert(a.contains("#N") && a == dump())
    // a lambda's class id depends on class-load order, not on the plan
    def lambda(id: Int, addr: String, hash: String) = Profile.normalize(
      s"Invoke graft.llm.Multimodal$$$$$$Lambda$$$id/0x$addr@$hash, apply")
    assert(lambda(7037, "00007f3c0c4e1a30", "5b2f1c") ==
      lambda(7015, "00007f3c0c4d9c48", "1e9a77"))
  }
}
