package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{KafkaShaped, MetricSample, OpenSession, RateGuards,
  SessionEvent, SessionOut, StreamingRate, StreamingSessionize,
  StreamingZscore, ZscoreEvent, ZscoreOut}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming rate carries state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricSample]
    val q = StreamingRate(input.toDS(), stateTtl = false)
      .writeStream.format("memory").queryName("rates")
      .outputMode("append").start()
    try {
      // batch 1: first samples → no rate
      input.addData(
        MetricSample("s1", "bits_in", 0.0, 1000.0, 60),
        MetricSample("s2", "bits_in", 100.0, 1000.0, 60))
      q.processAllAvailable()
      // batch 2: Δt=60 → rates; s2 resets
      input.addData(
        MetricSample("s1", "bits_in", 120.0, 1060.0, 60),
        MetricSample("s2", "bits_in", 40.0, 1060.0, 60))
      q.processAllAvailable()

      val out = spark.table("rates")
        .select("series", "ts", "rate")
        .as[(String, Double, Option[Long])].collect().toSet
      assert(out == Set(
        ("s1", 1000.0, None), ("s2", 1000.0, None),
        ("s1", 1060.0, Some(2L)),   // (120-0)/60
        ("s2", 1060.0, None)))      // counter reset
    } finally q.stop()
  }

  test("rate state survives a query RESTART from checkpoint (ST1 recovery)") {
    // The recovery half of at-least-once: stop the query after batch 1,
    // start a NEW query over the same source + checkpoint, feed batch 2 —
    // the rate for the batch-2 sample is only correct if the (value, ts)
    // state store was recovered, not rebuilt empty.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricSample]
    val ckptDir = freshTmpDir("graft_rate_ckpt")
    val ckpt = ckptDir.getPath
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Double, Option[Long], Option[Double])]()
      // foreachBatch is the recovery-capable sink (the memory sink refuses
      // to resume from a checkpoint); committed batches do not re-fire
      def start() = StreamingRate(input.toDS(), stateTtl = false)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.RateResult], _: Long) =>
          df.collect().foreach(r => seen.add((r.ts, r.rate, r.confidence)))
        }.start()
      input.addData(MetricSample("s", "bits_in", 100.0, 1000.0, 60))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      input.addData(MetricSample("s", "bits_in", 160.0, 1060.0, 60))
      val q2 = start()
      try {
        q2.processAllAvailable()
        // the batch-2 rate proves the recovered state store:
        // (160-100)/60 = 1, confidence 60/60 = 1.0 — a query restarted with
        // empty state would emit rate = None for its first sample
        import scala.jdk.CollectionConverters._
        assert(seen.asScala.toSet == Set(
          (1000.0, None, None),
          (1060.0, Some(1L), Some(1.0))), seen.asScala.toSet)
      } finally q2.stop()
    } finally rmTree(ckptDir)
  }

  test("multiple samples within one micro-batch process in ts order") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MetricSample]
    val q = StreamingRate(input.toDS(), stateTtl = false)
      .writeStream.format("memory").queryName("rates2")
      .outputMode("append").start()
    try {
      input.addData(
        MetricSample("s", "m", 180.0, 1120.0, 60), // arrives "late" in batch
        MetricSample("s", "m", 0.0, 1000.0, 60),
        MetricSample("s", "m", 60.0, 1060.0, 60))
      q.processAllAvailable()
      val rates = spark.table("rates2").orderBy("ts")
        .select("rate").as[Option[Long]].collect().toSeq
      assert(rates == Seq(None, Some(1L), Some(2L)))
    } finally q.stop()
  }

  test("keyed fold timeouts and expiry, driven without a live stream") {
    // A live stateTtl = true query livelocks processAllAvailable (a
    // ProcessingTimeTimeout re-triggers micro-batches continuously), so
    // the fold's group function runs here against Spark's TestGroupState.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.GroupStateTimeout.{EventTimeTimeout, ProcessingTimeTimeout}
    import org.apache.spark.sql.streaming.TestGroupState
    val rate = StreamingRate.fold(stateTtl = true)
    val now = 5000000L
    val live = TestGroupState.create[(Double, Double)](Optional.empty(),
      ProcessingTimeTimeout, now, Optional.empty[Long](), false)
    val rates = rate.group(("s", "m"), Iterator(
      MetricSample("s", "m", 120.0, 1060.0, 60),
      MetricSample("s", "m", 0.0, 1000.0, 60)), live).map(_.rate).toList
    assert(rates == List(None, Some(2L)))
    // the state is the last sample; the TTL is 3 × interval from now
    assert(live.get == ((120.0, 1060.0)) && live.isUpdated)
    assert(live.getTimeoutTimestampMs.get == now + 3L * 60L * 1000L)
    // the TTL fires: the state goes, nothing is emitted
    val idle = TestGroupState.create[(Double, Double)](
      Optional.of((120.0, 1060.0)), ProcessingTimeTimeout, now,
      Optional.empty[Long](), true)
    assert(rate.group(("s", "m"), Iterator.empty, idle).isEmpty)
    assert(idle.isRemoved && !idle.exists)

    def ev(tsUs: Long, id: Long, tp: String, cents: Long) =
      SessionEvent(7L, new java.sql.Timestamp(tsUs / 1000L), tsUs, id, tp, cents)
    val gap = 100L
    val sess = StreamingSessionize.fold(gap)
    val watermark = 9000L
    val open = TestGroupState.create[OpenSession](Optional.empty(),
      EventTimeTimeout, now, Optional.of(watermark), false)
    assert(sess.group(7L, Iterator(ev(10000050L, 2, "click", 50),
      ev(10000000L, 1, "view", 100)), open).isEmpty)
    assert(open.get == OpenSession(1L, 10000000L, 10000050L, 2L, 150L,
      Set("view", "click")))
    // fires strictly past end + gap, rounded up to the next ms
    assert(open.getTimeoutTimestampMs.get == (10000050L + gap) / 1000L + 1L)
    // the watermark passed it: the open session is emitted, state drops
    val due = TestGroupState.create[OpenSession](Optional.of(open.get),
      EventTimeTimeout, now, Optional.of(20000L), true)
    assert(sess.group(7L, Iterator.empty, due).toList ==
      List(SessionOut(7L, 1L, 2L, 10000000L, 10000050L, 50L, 2L, 1.5)))
    assert(due.isRemoved && !due.exists)
  }

  test("guards agree between batch-Column and streaming-Scala forms") {
    // same cases as the golden 8-step spec, via the shared pure function
    assert(RateGuards.compute(None, 0.0, 1000.0, 60) == (None, None))
    assert(RateGuards.compute(Some((0.0, 1000.0)), 60.0, 1060.0, 60) ==
      (Some(1L), Some(1.0)))
    assert(RateGuards.compute(Some((130.0, 1120.0)), 130.0, 1100.0, 60) ==
      (None, None)) // Δt < 0
    assert(RateGuards.compute(Some((140.0, 1100.0)), 150.0, 1100.0, 60) ==
      (None, None)) // Δt = 0
    assert(RateGuards.compute(Some((140.0, 1100.0)), 1000.0, 1400.0, 60) ==
      (None, Some(0.2))) // TTL
    assert(RateGuards.compute(Some((1200.0, 1550.0)), 100.0, 1660.0, 60) ==
      (None, Some(0.55))) // reset
  }

  test("streaming sessions close on gap arrival and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    def ev(user: Long, tsUs: Long, id: Long, tp: String, cents: Long) =
      SessionEvent(user, new java.sql.Timestamp(tsUs / 1000L), tsUs, id, tp,
        cents)
    val gap = 100L // micros
    val input = MemoryStream[SessionEvent]
    // Non-zero watermark delay: rows with event time <= watermark are
    // dropped as late, and the ms-truncated test timestamps tie at batch
    // boundaries — the delay keeps boundary ties alive (as in production).
    val sessions = StreamingSessionize(
      input.toDS().withWatermark("ts", "1 hour"), gap)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // batch 1: u1 opens a session (2 events), u2 opens one
      input.addData(
        ev(1, 10000000L, 1, "view", 100),
        ev(1, 10000050L, 2, "click", 50),
        ev(2, 10000000L, 3, "view", 10))
      q.processAllAvailable()
      // batch 2: u1's next event is past the gap → session 1 closes NOW
      // (gap-arrival path); u2's event continues its session
      input.addData(
        ev(1, 10001000L, 4, "purchase", 900),
        ev(2, 10000080L, 5, "click", 20))
      q.processAllAvailable()
      val afterGap = spark.table("sess").as[SessionOut].collect().toSet
      assert(afterGap == Set(
        SessionOut(1, 1, 2, 10000000L, 10000050L, 50, 2, 1.5)))
      // far-future event advances the watermark → open sessions time out
      input.addData(ev(99, 20000000000L, 6, "__wm__", 0))
      q.processAllAvailable()
      val all = spark.table("sess").filter($"user_id" < 99)
        .as[SessionOut].collect().toSet
      assert(all == Set(
        SessionOut(1, 1, 2, 10000000L, 10000050L, 50, 2, 1.5),
        SessionOut(1, 2, 1, 10001000L, 10001000L, 0, 1, 9.0),
        SessionOut(2, 1, 2, 10000000L, 10000080L, 80, 2, 0.3)))
    } finally q.stop()
  }

  test("streaming sessions match the batch operator on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sessionize
    // deterministic synthetic clickstream: 5 users × 40 events, gaps mixed
    val evs = for {
      u <- 0L until 5L; i <- 0L until 40L
    } yield {
      // base offset keeps every event time strictly above the initial
      // watermark (0): an event at exactly 0 ms is "late" from batch one
      val ts = 3600000000L + 1000000L * u + i * 60L + (i / 7) * 5000L
      (u, ts, u * 100 + i, if (i % 3 == 0) "view" else "click",
        (i * 7 % 100) + 1)
    }
    val gap = 1000L
    val input = MemoryStream[SessionEvent]
    val q = StreamingSessionize(
      input.toDS().withWatermark("ts", "1 minute"), gap)
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode("append").start()
    try {
      evs.sortBy(e => (e._2, e._3)).grouped(37).foreach { chunk =>
        input.addData(chunk.map(e => SessionEvent(e._1,
          new java.sql.Timestamp(e._2 / 1000L), e._2, e._3, e._4, e._5)))
        q.processAllAvailable()
      }
      input.addData(Seq(SessionEvent(-1L,
        new java.sql.Timestamp(999999999L), 999999999000L, -1L, "__wm__", 0L)))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq").filter($"user_id" >= 0)
        .as[SessionOut].collect().toSet
      val batchDf = Sessionize.stats(
        Sessionize.assign(
          evs.toDF("user_id", "ts_us", "event_id", "event_type", "cents")
            .withColumn("value", $"cents" / 100.0),
          "user_id", "ts_us", "event_id", gap),
        "user_id", "ts_us", "event_type", "value")
      val batch = batchDf.select($"user_id", $"session_seq", $"n_events",
        $"start_us", $"end_us", $"duration_us", $"n_types", $"value_sum")
        .as[SessionOut].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming zscore: moments carry across batches, prior-only scoring") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, ts: Long, v: Double) =
      ZscoreEvent(1L, ts, id, v, math.round(v * 100))
    val events = Seq(
      ev(1, 10, 10.0), ev(2, 20, 12.0), // first two: no z (n_prior < 2)
      ev(3, 30, 11.0),                  // z vs {10,12}
      ev(4, 40, 50.0))                  // blatant anomaly vs {10,12,11}

    def run(batches: Seq[Seq[ZscoreEvent]], name: String): Map[Long, ZscoreOut] = {
      val input = MemoryStream[ZscoreEvent]
      val q = StreamingZscore(input.toDS(), threshold = 2.0)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[ZscoreOut].collect()
        .map(o => o.event_id -> o).toMap
    }

    // one batch vs one-event-per-batch must agree exactly: the exact
    // integer moments in state make scoring replay-partition-invariant
    val whole = run(Seq(events), "z_whole")
    val split = run(events.map(Seq(_)), "z_split")
    assert(whole == split)

    assert(whole(1).zscore.isEmpty && whole(2).zscore.isEmpty)
    assert(whole(1).n_prior == 0 && whole(2).n_prior == 1)
    // z3 vs {10,12}: mean 11, var 2 → z = 0
    assert(whole(3).zscore == Some(0.0) && !whole(3).is_anomaly)
    // z4 vs {10,12,11}: mean 11, var 1 → z = 39
    assert(whole(4).zscore == Some(39.0) && whole(4).is_anomaly)
  }

  test("zscore moments survive a query RESTART from checkpoint (ST1)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ZscoreEvent]
    val ckptDir = freshTmpDir("graft_zscore_ckpt")
    val ckpt = ckptDir.getPath
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Option[Double])]()
      def start() = StreamingZscore(input.toDS(), threshold = 2.0)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[ZscoreOut], _: Long) =>
          df.collect().foreach(o => seen.add((o.event_id, o.n_prior, o.zscore)))
        }.start()
      def ev(id: Long, ts: Long, v: Double) =
        ZscoreEvent(1L, ts, id, v, math.round(v * 100))
      input.addData(ev(1, 10, 10.0), ev(2, 20, 12.0), ev(3, 30, 11.0))
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      input.addData(ev(4, 40, 50.0))
      val q2 = start()
      try {
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val byId = seen.asScala.map(t => t._1 -> ((t._2, t._3))).toMap
        // event 4 scores against the RECOVERED moments {10,12,11}:
        // mean 11, var 1 → z = 39. A restart with empty state would
        // report n_prior = 0 and no z.
        assert(byId(4L) == ((3L, Some(39.0))), byId)
      } finally q2.stop()
    } finally rmTree(ckptDir)
  }

  test("keyed state is provider-portable: RocksDB state store produces " +
    "output identical to the default in-memory provider") {
    // the 100 TB posture (SURVEY §4.2): when keyed state outgrows
    // executor memory, swap the HDFS-backed in-memory provider for
    // RocksDB — a CONFIG change, not a code change. Prove both halves:
    // (1) the swap engages (rocksdb custom metrics appear in progress),
    // (2) the stateful operator's output is bit-identical.
    def ev(id: Long, ts: Long, v: Double) =
      ZscoreEvent(1L, ts, id, v, math.round(v * 100))
    val batches = Seq(
      Seq(ev(1, 10, 10.0), ev(2, 20, 12.0)),
      Seq(ev(3, 30, 11.0)),
      Seq(ev(4, 40, 50.0)))
    def run(ss: org.apache.spark.sql.SparkSession,
            name: String): (Map[Long, ZscoreOut], Set[String]) = {
      implicit val sqlCtx = ss.sqlContext
      import ss.implicits._
      val input = MemoryStream[ZscoreEvent]
      val q = StreamingZscore(input.toDS(), threshold = 2.0)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val metrics =
        try {
          batches.foreach { b => input.addData(b); q.processAllAvailable() }
          q.lastProgress.stateOperators.headOption
            .map(_.customMetrics.keySet())
            .map(ks => { import scala.jdk.CollectionConverters._
              ks.asScala.toSet })
            .getOrElse(Set.empty[String])
        } finally q.stop()
      (ss.table(name).as[ZscoreOut].collect()
        .map(o => o.event_id -> o).toMap, metrics)
    }
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    val (defOut, _) = run(spark, "z_prov_default")
    val (rocksOut, rocksMetrics) = run(rocks, "z_prov_rocksdb")
    assert(rocksMetrics.exists(_.toLowerCase.contains("rocksdb")),
      s"RocksDB provider did not engage; metrics=$rocksMetrics")
    assert(rocksOut == defOut && defOut.nonEmpty,
      "RocksDB output diverged from the default provider")
  }

  test("stream-stream interval join matches the batch join across batches") {
    implicit val sqlCtx = spark.sqlContext
    // (user, ts_us, id): views on one stream, purchases on the other —
    // purchase 201 matches views 101+102 (within 100 µs), 202 matches
    // nothing (past the window), 203 arrives a batch AFTER its matching
    // view (cross-batch buffering)
    val vIn = MemoryStream[(Long, Long, Long)]
    val pIn = MemoryStream[(Long, Long, Long)]
    val v = vIn.toDS().toDF("user_id", "view_ts_us", "view_id")
      .withColumn("vts", timestamp_micros(col("view_ts_us")))
      .withWatermark("vts", "1 hour")
    val p = pIn.toDS().toDF("p_user_id", "purchase_ts_us", "purchase_id")
      .withColumn("pts", timestamp_micros(col("purchase_ts_us")))
      .withWatermark("pts", "1 hour")
    val joined = v.join(p,
      col("user_id") === col("p_user_id") &&
        col("pts") >= col("vts") &&
        col("pts") <= col("vts") + expr("INTERVAL 100 MICROSECONDS"))
      .select("view_id", "purchase_id")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode("append").start()
    try {
      vIn.addData((1L, 1000000L, 101L), (1L, 1000050L, 102L),
        (2L, 1000000L, 103L))
      pIn.addData((1L, 1000080L, 201L), (2L, 2000000L, 202L))
      q.processAllAvailable()
      assert(spark.table("sj").as[(Long, Long)].collect().toSet ==
        Set((101L, 201L), (102L, 201L)))
      pIn.addData(Seq((2L, 1000090L, 203L))) // late-side arrival, buffered view
      q.processAllAvailable()
      assert(spark.table("sj").as[(Long, Long)].collect().toSet ==
        Set((101L, 201L), (102L, 201L), (103L, 203L)))
    } finally q.stop()
  }

  test("streaming cross-corpus dedup: stateless per-batch drops, batch-equal") {
    import graft.llm.Dedup
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (11L, "the quick brown fox jumps over the lazy dog"),   // dup of ref
      (12L, "completely different words entirely unrelated text here now"))
    val b2 = Seq(
      (13L, "the quick brown fox jumps over the lazy dog"),   // dup again
      (14L, "yet more fresh material nothing shared with anything at all"),
      (15L, "tiny doc"))                                      // sub-shingle
    val input = MemoryStream[(Long, String)]
    val kept = Dedup.crossCorpusKeepBroadcast(
      input.toDS().toDF("doc_id", "text"), ref, "text", "doc_id")
    val q = kept.select("doc_id").writeStream.format("memory")
      .queryName("xdedup").outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      val afterB1 = spark.table("xdedup").as[Long].collect().toSet
      assert(afterB1 == Set(12L), s"batch 1 kept $afterB1")
      input.addData(b2)
      q.processAllAvailable()
      val all = spark.table("xdedup").as[Long].collect().toSet
      assert(all == Set(12L, 14L, 15L), s"after batch 2 kept $all")
      // no state store involved: the same input through the BATCH path
      // gives the same survivors
      val batch = Dedup.crossCorpusKeepBroadcast(
        (b1 ++ b2).toDF("doc_id", "text"), ref, "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(batch == all)
    } finally q.stop()
  }

  test("streaming quality gate: per-batch map-only drops, batch-equal") {
    import graft.llm.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // long-enough English filler passes all Gopher rules; the short and
    // symbol-heavy docs fail word-count / symbol-ratio respectively
    val good = (1 to 60).map(i => s"the quick brown fox number $i and")
      .mkString(" ")
    val b1 = Seq((1L, good), (2L, "too short"))
    val b2 = Seq((3L, good + " again the end"), (4L, "### ## # ###"))
    val input = MemoryStream[(Long, String)]
    val gated = TextAnalysis.gopherRules(
        input.toDS().toDF("doc_id", "text"), "text")
      .filter(col("pass_gopher")).select("doc_id")
    val q = gated.writeStream.format("memory").queryName("qgate")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      assert(spark.table("qgate").as[Long].collect().toSet == Set(1L))
      input.addData(b2)
      q.processAllAvailable()
      val all = spark.table("qgate").as[Long].collect().toSet
      assert(all == Set(1L, 3L), s"stream gate kept $all")
      // stateless gate: the batch path over the union input agrees
      val batch = TextAnalysis.gopherRules(
          (b1 ++ b2).toDF("doc_id", "text"), "text")
        .filter(col("pass_gopher")).select("doc_id")
        .as[Long].collect().toSet
      assert(batch == all)
    } finally q.stop()
  }

  test("streaming fingerprint encode: per-batch map-only words, " +
    "batch-equal across micro-batch boundaries") {
    import graft.llm.Similarity
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 7 - 3).toFloat).toArray
    val b1 = Seq(1, 2, 3).map(i => (i.toLong, vec(i)))
    val b2 = Seq(4, 5).map(i => (i.toLong, vec(i)))
    val short = (6L, Array(1.0f, 2.0f)) // < dim: must degrade out
    val input = MemoryStream[(Long, Array[Float])]
    val words = input.toDS().toDF("vec_id", "embedding")
      .filter(size(col("embedding")) >= 64)
      .select(col("vec_id"),
        Similarity.hammingWord(col("embedding"), dim = 64).as("fingerprint"))
    val q = words.writeStream.format("memory").queryName("hamwords")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      assert(spark.table("hamwords").count() == 3)
      input.addData(b2 :+ short)
      q.processAllAvailable()
      val streamed = spark.table("hamwords").as[(Long, Long)]
        .collect().sorted.toSeq
      // stateless encode: the batch plan over the union input agrees
      // row for row, and the short vector degraded out of both
      val batch = (b1 ++ b2 :+ short).toDF("vec_id", "embedding")
        .filter(size(col("embedding")) >= 64)
        .select(col("vec_id"),
          Similarity.hammingWord(col("embedding"), dim = 64)
            .as("fingerprint"))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(streamed == batch && streamed.length == 5)
    } finally q.stop()
  }

  test("streaming fingerprints APPEND into the bucket-partitioned index " +
    "store — the streamed store equals the batch-written one") {
    import graft.llm.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 11 - 5).toFloat).toArray
    val b1 = Seq(1, 2, 3).map(i => (i.toLong, vec(i)))
    val b2 = Seq(4, 5, 6).map(i => (i.toLong, vec(i)))
    val streamDir = freshTmpDir("graft_hamming_stream_idx")
    val batchDir = freshTmpDir("graft_hamming_stream_idx_batch")
    val ckpt = freshTmpDir("graft_hamming_stream_idx_ckpt")
    val ix = IvfIndex(IvfIndex.Prefix(48, 6), IvfIndex.Bits(48, 64))
    val input = MemoryStream[(Long, Array[Float])]
    val words = ix.encode(input.toDS().toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val q = words.writeStream
      .option("checkpointLocation", ckpt.getPath)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").partitionBy("cell")
          .parquet(streamDir.getPath)
      }.start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // the batch layout over the union input is the reference store
    ix.write((b1 ++ b2).toDF("vec_id", "embedding"), "vec_id", "embedding",
      batchDir.getPath)
    def readStore(p: String) = spark.read.parquet(p)
      .select(col("neighbor_id"), col("cw"), col("cell").cast("long"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val s = readStore(streamDir.getPath)
    val b = readStore(batchDir.getPath)
    assert(s == b && s.length == 6, s"streamed store diverged: $s vs $b")
    // and the streamed store serves queries identically
    val qdf = (b1 ++ b2).toDF("vec_id", "embedding")
    def serve(p: String) = ix.probe(spark.read.parquet(p), qdf, "vec_id",
      "embedding", k = 2, probes = 7).collect()
      .map(_.toSeq).sortBy(_.toString).toSeq
    val fromStream = serve(streamDir.getPath)
    val fromBatch = serve(batchDir.getPath)
    assert(fromStream == fromBatch)
  }

  test("streaming cell-encode APPENDs into the trained-IVF store " +
    "through the store's OWN sidecar — equal to the batch-written " +
    "store; a conflicting quantizer is refused loudly") {
    import graft.llm.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 13 - 6).toFloat).toArray
    val all = (1 to 12).map(i => (i.toLong, vec(i)))
    val (b1, b2) = all.splitAt(6)
    // centroids train on the FULL corpus up front (the deployment
    // order: train, then stream against the frozen quantizer)
    val cents = IvfIndex.Trained.train(
      all.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 4, iters = 2, dim = 64)
    val ivf = IvfIndex(cents, IvfIndex.Flat)
    val streamDir = freshTmpDir("graft_ivft_stream_idx")
    val batchDir = freshTmpDir("graft_ivft_stream_idx_batch")
    val ckpt = freshTmpDir("graft_ivft_stream_idx_ckpt")
    def rmAll(): Unit = Seq(streamDir, batchDir, ckpt).foreach(rmTree)
    try {
      // the store is INITIALIZED by the batch write (first half of the
      // corpus + the _quantizer sidecar); the stream then appends the
      // second half — the deployment lifecycle appendRows serves
      ivf.write(b1.toDF("vec_id", "embedding"),
        "vec_id", "embedding", streamDir.getPath)
      val input = MemoryStream[(Long, Array[Float])]
      // cell assignment comes from the STORE's sidecar, not a caller
      // parameter — a streamer pointed at this store cannot assign from
      // drifted centroids (the failure the sidecar exists to kill)
      val rows = IvfIndex.appendRows(
        input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
        streamDir.getPath, dim = 64)
      val q = rows.writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").partitionBy("cell")
            .parquet(streamDir.getPath)
        }.start()
      try {
        input.addData(b2.take(3))
        q.processAllAvailable()
        input.addData(b2.drop(3))
        q.processAllAvailable()
      } finally q.stop()
      // a RETRAINED (conflicting) quantizer is refused before any row
      // is assigned — and the caller's own matching copy cross-checks
      // cleanly
      val drifted = IvfIndex.Trained.train(
        b2.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 4, iters = 1, dim = 64)
      val err = intercept[IllegalArgumentException] {
        IvfIndex.appendRows(all.toDF("vec_id", "embedding"),
          "vec_id", "embedding", streamDir.getPath, dim = 64,
          expected = Some(drifted.centroids))
      }
      assert(err.getMessage.contains("conflict"), err.getMessage)
      IvfIndex.appendRows(all.toDF("vec_id", "embedding"),
        "vec_id", "embedding", streamDir.getPath, dim = 64,
        expected = Some(cents.centroids)) // matching copy: no refusal
      // the batch layout over the union input is the reference store
      ivf.write(all.toDF("vec_id", "embedding"),
        "vec_id", "embedding", batchDir.getPath)
      def readStore(p: String) = spark.read.parquet(p)
        .select(col("neighbor_id"), col("cv"), col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val s = readStore(streamDir.getPath)
      val b = readStore(batchDir.getPath)
      assert(s == b && s.length == 12, s"streamed store diverged")
      // and the streamed store serves queries identically, probing with
      // ITS OWN sidecar (the append preserved it — only cell= dirs were
      // touched), not the in-memory copy
      val qdf = all.toDF("vec_id", "embedding")
      def serve(p: String) = IvfIndex.load(spark, p, dim = 64).probe(
        spark.read.parquet(p), qdf, "vec_id", "embedding",
        k = 2, probes = 2).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(serve(streamDir.getPath) == serve(batchDir.getPath))
    } finally rmAll()
  }

  test("streaming residual-encode APPENDs into the compressed PQ store " +
    "through BOTH of the store's sidecars — equal to the batch-written " +
    "store, served identically cold; conflicting quantizer refused") {
    import graft.llm.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 13 - 6).toFloat).toArray
    val all = (1 to 12).map(i => (i.toLong, vec(i)))
    val (b1, b2) = all.splitAt(6)
    val allDf = all.toDF("vec_id", "embedding")
    // deployment order: train BOTH stages on the full corpus up front,
    // write the initial store, then stream against the frozen artifact
    val cents = IvfIndex.Trained.train(allDf, "vec_id",
      "embedding", k = 4, iters = 2, dim = 64)
    val ivf = IvfIndex(cents, IvfIndex.ResidualPq.train(cents, allDf,
      "vec_id", "embedding", m = 8, k = 4, subDim = 8, iters = 1))
    val streamDir = freshTmpDir("graft_ivfpq_stream_idx")
    val batchDir = freshTmpDir("graft_ivfpq_stream_idx_batch")
    val ckpt = freshTmpDir("graft_ivfpq_stream_idx_ckpt")
    def rmAll(): Unit = Seq(streamDir, batchDir, ckpt).foreach(rmTree)
    try {
      ivf.write(b1.toDF("vec_id", "embedding"), "vec_id",
        "embedding", streamDir.getPath)
      val input = MemoryStream[(Long, Array[Float])]
      // cells AND codes come from the store's own sidecars — retrained
      // codebooks can't silently write codes the store's books decode
      // to wrong reconstructions (they aren't even a parameter)
      val rows = IvfIndex.appendRows(
        input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
        streamDir.getPath, dim = 64, IvfIndex.ResidualPq.Stored)
      val q = rows.writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").partitionBy("cell")
            .parquet(streamDir.getPath)
        }.start()
      try {
        input.addData(b2)
        q.processAllAvailable()
      } finally q.stop()
      // the shared sidecar binding refuses a drifted quantizer
      // here exactly as in the float helper
      val drifted = IvfIndex.Trained.train(
        b2.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 4, iters = 1, dim = 64)
      val err = intercept[IllegalArgumentException] {
        IvfIndex.appendRows(allDf, "vec_id", "embedding",
          streamDir.getPath, dim = 64, IvfIndex.ResidualPq.Stored,
          expected = Some(drifted.centroids))
      }
      assert(err.getMessage.contains("conflict"), err.getMessage)
      // the batch store over the union input is the reference
      ivf.write(allDf, "vec_id", "embedding", batchDir.getPath)
      def readStore(p: String) = spark.read.parquet(p)
        .select(col("neighbor_id"), col("codes"),
          col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val s = readStore(streamDir.getPath)
      assert(s == readStore(batchDir.getPath) && s.length == 12,
        "streamed PQ store diverged from the batch-written reference")
      // cold serving from the streamed store — both sidecars — equals
      // the batch store's
      def serve(p: String) = IvfIndex.load(spark, p, dim = 64,
        IvfIndex.ResidualPq.Stored).probe(spark.read.parquet(p),
        allDf, "vec_id", "embedding", k = 2, probes = 2).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      assert(serve(streamDir.getPath) == serve(batchDir.getPath))
    } finally rmAll()
  }

  test("ivfSqAppendRows emits writeIvfSqIndex's exact row shape from " +
    "the store's own sidecar") {
    import graft.llm.IvfIndex
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 13 - 6).toFloat).toArray
    val all = (1 to 10).map(i => (i.toLong, vec(i)))
    val allDf = all.toDF("vec_id", "embedding")
    val cents = IvfIndex.Trained.train(allDf, "vec_id",
      "embedding", k = 4, iters = 2, dim = 64)
    val dir = freshTmpDir("graft_ivfsq_append_spec")
    try {
      IvfIndex(cents, IvfIndex.Sq8).write(allDf, "vec_id", "embedding",
        dir.getPath)
      // the append frame over the same rows is bit-identical to what
      // the store holds (scale, int8 codes, cell — all row-local, all
      // from the sidecar quantizer), so mode("append") composes
      val appended = IvfIndex.appendRows(allDf, "vec_id",
        "embedding", dir.getPath, dim = 64, IvfIndex.Sq8)
        .select(col("neighbor_id"), col("scale"), col("codes"),
          col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val stored = spark.read.parquet(dir.getPath)
        .select(col("neighbor_id"), col("scale"), col("codes"),
          col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(appended == stored && stored.length == 10)
    } finally rmTree(dir)
  }

  test("compactIndex runs INSIDE foreachBatch between micro-batch " +
    "appends: no lost rows across the interleave, file counts bounded, " +
    "serving identical to the batch-built store") {
    import graft.llm.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 9 - 4).toFloat).toArray
    // 8 micro-batches of 5 rows each — every batch appends one file
    // per touched bucket, fragmenting fast (the ingest-rate hazard)
    val batches = (0 until 8).map(b =>
      (1 to 5).map(i => ((b * 5 + i).toLong, vec(b * 5 + i))))
    val storeDir = freshTmpDir("graft_compact_live_idx")
    val ckpt = freshTmpDir("graft_compact_live_ckpt")
    def rmAll(): Unit = Seq(storeDir, ckpt).foreach(rmTree)
    try {
      val ix = IvfIndex(IvfIndex.Prefix(48, 4), IvfIndex.Bits(48, 64))
      val input = MemoryStream[(Long, Array[Float])]
      val words = ix.encode(input.toDS().toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      val compactions =
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      // THE RECOMMENDED MAINTENANCE POSTURE (IvfIndex.compactIndex's
      // concurrency contract, demonstrated): compaction runs inside
      // foreachBatch — i.e. BETWEEN micro-batches, with ingest
      // quiesced by construction — every 3rd batch
      val q = words.writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("append").partitionBy("cell")
            .parquet(storeDir.getPath)
          if (id % 3 == 2) {
            compactions += IvfIndex.compactIndex(df.sparkSession,
              storeDir.getPath, "cell", maxFilesPerBucket = 2)
            ()
          }
        }.start()
      try {
        batches.foreach { b =>
          input.addData(b)
          q.processAllAvailable()
        }
      } finally q.stop()
      // at least one interleaved compaction actually rewrote partitions
      assert(compactions.exists(_.nonEmpty),
        s"fixture never fragmented past the threshold: $compactions")
      // NO LOST ROWS across the append/compact interleave — the
      // contract's whole point: every ingested row is still served
      val all = batches.flatten
      val stored = spark.read.parquet(storeDir.getPath)
        .select(col("neighbor_id"), col("cw"), col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val reference = ix.encode(all.toDF("vec_id", "embedding"), "vec_id",
          "embedding")
        .select(col("neighbor_id"), col("cw"), col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(stored == reference && stored.length == 40,
        s"rows lost or mutated across the interleave: " +
          s"${stored.length} vs ${reference.length}")
      // a final quiesced compaction bounds every bucket ≤ threshold and
      // serving stays identical through it
      def serve() = ix.probe(spark.read.parquet(storeDir.getPath),
        all.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 2, probes = 5).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val before = serve()
      IvfIndex.compactIndex(spark, storeDir.getPath, "cell",
        maxFilesPerBucket = 2)
      val files = storeDir.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.startsWith("part-"))).toMap
      assert(files.values.forall(_ <= 2), s"still fragmented: $files")
      assert(serve() == before && before.nonEmpty)
    } finally rmAll()
  }

  test("compactIndex interleaves with ivfPqAppendRows micro-batches on " +
    "the PQ code store: no lost rows, sidecars bit-intact, serving " +
    "identical to the batch-built store") {
    // the r15 interleave proof covered the hamming store; the PQ store
    // has the MOST sidecar state (_quantizer + _codebooks) and its own
    // append path, so the compaction contract is pinned here too:
    // compaction inside foreachBatch (ingest quiesced between
    // micro-batches) rewrites only cell= partition files and never
    // touches the sidecar dirs the appends and cold serving depend on
    import graft.llm.IvfIndex
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Float] =
      (1 to 64).map(j => ((i * j) % 9 - 4).toFloat).toArray
    val init = (41 to 44).map(i => (i.toLong, vec(i)))
    val batches = (0 until 8).map(b =>
      (1 to 5).map(i => ((b * 5 + i).toLong, vec(b * 5 + i))))
    val all = init ++ batches.flatten
    val allDf = all.toDF("vec_id", "embedding")
    val cents = IvfIndex.Trained.train(allDf, "vec_id",
      "embedding", k = 4, iters = 2, dim = 64)
    val ivf = IvfIndex(cents, IvfIndex.ResidualPq.train(cents, allDf,
      "vec_id", "embedding", m = 8, k = 4, subDim = 8, iters = 1))
    val storeDir = freshTmpDir("graft_pq_compact_live_idx")
    val batchDir = freshTmpDir("graft_pq_compact_live_batch")
    val ckpt = freshTmpDir("graft_pq_compact_live_ckpt")
    def rmAll(): Unit = Seq(storeDir, batchDir, ckpt).foreach(rmTree)
    try {
      ivf.write(init.toDF("vec_id", "embedding"), "vec_id",
        "embedding", storeDir.getPath)
      // sidecar state BEFORE the interleave — compaction must not move it
      val centsBefore = IvfIndex.Trained.load(spark, storeDir.getPath,
        dim = 64).centroids
      val cbsBefore = IvfIndex.ResidualPq.load(spark, storeDir.getPath)
        .codebooks
      val input = MemoryStream[(Long, Array[Float])]
      val rows = IvfIndex.appendRows(
        input.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
        storeDir.getPath, dim = 64, IvfIndex.ResidualPq.Stored)
      val compactions =
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val q = rows.writeStream
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.mode("append").partitionBy("cell")
            .parquet(storeDir.getPath)
          if (id % 3 == 2) {
            compactions += IvfIndex.compactIndex(df.sparkSession,
              storeDir.getPath, "cell", maxFilesPerBucket = 2)
            ()
          }
        }.start()
      try {
        batches.foreach { b =>
          input.addData(b)
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(compactions.exists(_.nonEmpty),
        s"fixture never fragmented past the threshold: $compactions")
      // no lost rows: the interleaved store equals the batch-built
      // reference over the union input, row for row (codes included)
      ivf.write(allDf, "vec_id", "embedding", batchDir.getPath)
      def readStore(p: String) = spark.read.parquet(p)
        .select(col("neighbor_id"), col("codes"), col("cell").cast("long"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val s = readStore(storeDir.getPath)
      assert(s == readStore(batchDir.getPath) && s.length == 44,
        s"rows lost or mutated across the append/compact interleave: " +
          s"${s.length}")
      // sidecars bit-intact through every compaction (compactIndex
      // rewrites cell= dirs only)
      assert(IvfIndex.Trained.load(spark, storeDir.getPath, dim = 64)
        .centroids.map(_.toSeq) == centsBefore.map(_.toSeq))
      assert(IvfIndex.ResidualPq.load(spark, storeDir.getPath).codebooks
        .map(_.map(_.toSeq)) == cbsBefore.map(_.map(_.toSeq)))
      // a final quiesced compaction bounds files and serving is
      // identical to the batch store through it, from the store's OWN
      // sidecars (the cold path)
      def serve(p: String) = IvfIndex.load(spark, p, dim = 64,
        IvfIndex.ResidualPq.Stored).probe(spark.read.parquet(p),
        allDf, "vec_id", "embedding", k = 2, probes = 2).collect()
        .map(_.toSeq).sortBy(_.toString).toSeq
      val before = serve(storeDir.getPath)
      IvfIndex.compactIndex(spark, storeDir.getPath, "cell",
        maxFilesPerBucket = 2)
      val files = storeDir.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.startsWith("part-"))).toMap
      assert(files.values.forall(_ <= 2), s"still fragmented: $files")
      assert(serve(storeDir.getPath) == before && before.nonEmpty &&
        before == serve(batchDir.getPath))
    } finally rmAll()
  }

  test("spread-wrapped map operators stay streaming-compatible") {
    import graft.llm.{Dedup, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDS().toDF("doc_id", "text")
    // simhash and slidingChunks pass through Tables.spread — on a
    // streaming frame it must be the identity, not a df.rdd crash
    val sig = Dedup.simhash(stream, "text", "doc_id")
    val chunks = TextAnalysis.slidingChunks(stream, "text", "doc_id",
      window = 4, stride = 2)
    val q1 = sig.writeStream.format("memory").queryName("spread_sig")
      .outputMode("append").start()
    val q2 = chunks.writeStream.format("memory").queryName("spread_chunks")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta"))
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("spread_sig").count() == 1)
      assert(spark.table("spread_chunks").count() >= 2)
    } finally { q1.stop(); q2.stop() }
  }

  test("kafka fan-out encode: per-site topic + global topic, series key") {
    val df = Seq(("dc1", "r1|int|if|eth0", 42.0), ("dc2", "r2|int|if|eth1", 7.0))
      .toDF("site", "series", "v")
    val out = KafkaShaped.encodeFanout(df, col("site"), "processed",
      col("series"), struct(col("v")), globalTopic = Some("global-metrics"))
      .as[(String, String, String)].collect().toSet
    assert(out == Set(
      ("dc1-processed", "r1|int|if|eth0", """{"v":42.0}"""),
      ("global-metrics", "r1|int|if|eth0", """{"v":42.0}"""),
      ("dc2-processed", "r2|int|if|eth1", """{"v":7.0}"""),
      ("global-metrics", "r2|int|if|eth1", """{"v":7.0}""")))
  }

  test("decode + validate drops unparseable and key-filtered records") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val df = Seq(
      ("k1", """{"a": 1, "b": "x"}"""),
      ("k1", """not json"""),
      ("k2", """{"a": 2, "b": "y"}""")) // filtered by key
      .toDF("key", "value")
    val out = KafkaShaped.decodeAndValidate(df, schema, allowedKeys = Seq("k1"))
    assert(out.columns.toSeq == Seq("key", "a", "b"))
    assert(out.as[(String, Long, String)].collect().toSet ==
      Set(("k1", 1L, "x")))
  }

  test("invalid records land in the dead-letter frame, exactly partitioned") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val df = Seq(
      ("k1", """{"a": 1, "b": "x"}"""),
      ("k1", """not json"""),
      ("k2", """{"a": 2, "b": "y"}"""),                 // filtered by key
      (null.asInstanceOf[String], """{"a": 3, "b": "z"}"""), // null key
      ("k1", null.asInstanceOf[String]))                // null value
      .toDF("key", "value")
    val valid = KafkaShaped.decodeAndValidate(df, schema, Seq("k1"))
    val dead = KafkaShaped.invalidRecords(df, schema, Seq("k1"))
    // exact partition, including the null-key record (None ∉ keys in the
    // reference → key-filtered, NOT lost to three-valued logic)
    assert(valid.count() == 1)
    assert(valid.count() + dead.count() == 5)
    assert(dead.select("key", "dropped_by_key_filter")
      .as[(Option[String], Boolean)].collect().toSet ==
      Set((Some("k1"), false), (Some("k2"), true), (None, true)))
  }

  test("decodeValidated drop counts surface per micro-batch on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val schema = StructType(Seq(
      StructField("metric_name", StringType),
      StructField("metric_value", DoubleType)))
    val input = MemoryStream[(String, String)]
    val decoded = KafkaShaped.decodeValidated(
      input.toDS().toDF("key", "value"), schema,
      requiredFields = Seq("metric_name", "metric_value"),
      observationName = "decode_obs")
    val q = decoded.writeStream.format("memory")
      .queryName("decode_obs_out").outputMode("append").start()
    try {
      input.addData(
        ("1", """{"metric_name":"a","metric_value":1.5}"""),
        ("1", """{"metric_name":"b","metric_value":"wrong-type"}"""),
        ("1", """{corrupt"""))
      q.processAllAvailable()
      // observed metrics ride the StreamingQueryProgress of the batch
      val obs = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("decode_obs"))).last
      assert(obs.getAs[Long]("dropped_corrupt") == 1)
      assert(obs.getAs[Long]("dropped_schema") == 1)
      assert(obs.getAs[Long]("passed") == 1)
      assert(spark.table("decode_obs_out").count() == 1)
    } finally q.stop()
  }

  test("required-field enforcement drops null-field rows") {
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val df = Seq(("k", """{"a": 1}"""), ("k", """{"a": 2, "b": "ok"}"""))
      .toDF("key", "value")
    val out = KafkaShaped.decodeValidated(df, schema, requiredFields = Seq("b"))
    assert(out.as[(String, Long, String)].collect().toSeq ==
      Seq(("k", 2L, "ok")))
  }

  test("file replay: a throwing transform or start() leaves no temp dir") {
    import graft.streaming.FileReplay
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def replayDirs() = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("graft_replay_")).toSet
    val src = freshTmpDir("graft_leak_src")
    try {
      Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(src.getPath)
      val part = src.listFiles().filter(_.getName.endsWith(".parquet")).head
      val before = replayDirs()
      // the transform throws: analysis of a missing column
      intercept[org.apache.spark.sql.AnalysisException] {
        FileReplay.replay(spark, part.getPath, "leak_transform")(
          source => source().select(col("no_such_column")))
      }
      // start() throws: a streaming aggregation cannot run in append mode
      // without a watermark
      intercept[org.apache.spark.sql.AnalysisException] {
        FileReplay.replay(spark, part.getPath, "leak_start")(
          source => source().groupBy(col("s")).count())
      }
      assert(replayDirs() == before)
    } finally rmTree(src)
  }
}
