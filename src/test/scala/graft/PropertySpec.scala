package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.functions.{Shingles, VectorOps}
import graft.operators.{AsofJoin, RateTransform}
import graft.streaming.RateGuards

/** Deterministic property tests (scalacheck generators, fixed seeds):
  *  - the batch Column form of the rate transform agrees with the pure
  *    guard function on randomized sequences (gaps, resets, out-of-order,
  *    duplicate timestamps) — SURVEY §7.3's randomized-order requirement;
  *  - the codegen kernels agree with their composable HOF formulations on
  *    random inputs (defends the perf substitutions bit-for-bit).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  test("count-min: est >= true for EVERY item; sharded builds merge " +
    "exactly; zero for never-seen items") {
    import graft.llm.CountMin
    val itemGen = Gen.listOfN(400,
      Gen.frequency(5 -> Gen.oneOf("hot1", "hot2"),
        3 -> Gen.oneOf((1 to 20).map(i => s"warm$i")),
        2 -> Gen.chooseNum(1, 500).map(i => s"cold$i")))
    (1 to 5).foreach { seed =>
      val items = sample(itemGen, seed)
      val df = items.toDF("token")
      val (d, w) = (3, 64)
      val cms = CountMin.build(df, "token", d, w)
      val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val est = CountMin.probe(truth.keys.toSeq.toDF("token"), "token",
        cms, d, w).as[(String, Long)].collect().toMap
      // deterministic upper bound, and total overestimate mass is bounded
      // by the d×N hash mass spread over w buckets
      truth.foreach { case (t, c) =>
        assert(est(t) >= c, s"seed=$seed $t: est=${est(t)} < true=$c")
        assert(est(t) <= c + 2L * items.size / w * 4,
          s"seed=$seed $t grossly overestimates: ${est(t)} vs $c")
      }
      // never-seen items can still collide, but an item hashing to an
      // empty cell in ANY row reads 0 — and 0 is the floor, never negative
      val ghost = CountMin.probe(Seq("never-seen-x").toDF("token"),
        "token", cms, d, w).as[(String, Long)].collect().head._2
      assert(ghost >= 0L)
      // mergeability: per-shard builds unioned + re-summed == whole build
      val (s1, s2) = items.splitAt(items.size / 2)
      val merged = CountMin.build(s1.toDF("token"), "token", d, w)
        .unionByName(CountMin.build(s2.toDF("token"), "token", d, w))
        .groupBy("row", "bucket").agg(sum("cnt").as("cnt"))
      val whole = cms.as[(Int, Long, Long)].collect().toSet
      assert(merged.as[(Int, Long, Long)].collect().toSet == whole)
    }
  }

  test("batch rate Column form == pure guards on random sequences") {
    val stepGen = Gen.listOfN(30, for {
      dv <- Gen.chooseNum(-800, 2000) // negatives → counter resets
      dt <- Gen.frequency(
        3 -> Gen.chooseNum(1L, 120L),   // normal cadence
        1 -> Gen.chooseNum(181L, 400L), // TTL-breaking gaps (3×60=180)
        1 -> Gen.chooseNum(-60L, 0L))   // out-of-order / duplicate ts
    } yield (dv, dt))

    (1 to 20).foreach { seed =>
      val steps = sample(stepGen, seed)
      var v = 1000.0
      var t = 10000.0
      val samples = steps.zipWithIndex.map { case ((dv, dt), i) =>
        v = math.max(0.0, v + dv); t += dt
        (i.toLong, v, t)
      }

      // pure sequential replay in arrival order (state always advances)
      var prev: Option[(Double, Double)] = None
      val expected = samples.map { case (_, value, ts) =>
        val (rate, conf) = RateGuards.compute(prev, value, ts, 60)
        prev = Some((value, ts))
        (rate, conf)
      }

      val got = RateTransform.batch(
        samples.toDF("idx", "value", "ts").withColumn("series", lit("s")),
        Seq("series"), "value", "ts", "idx", lit(60))
        .orderBy("idx")
        .select("rate", "confidence")
        .as[(Option[Long], Option[Double])].collect().toList

      assert(got == expected, s"seed=$seed")
    }
  }

  test("distinctShingles == HOF formulation on random token lists") {
    val docGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    (1 to 30).foreach { seed =>
      val text = sample(docGen, seed)
      val n = 2 + seed % 3
      val df = Seq(text).toDF("text")
      val ws = split(col("text"), "\\s+")
      val hof = array_distinct(transform(
        sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + 1, lit(n)), " ")))
      val row = df.filter(size(ws) >= n)
        .select(Shingles.distinctShingles(ws, n).as("fast"), hof.as("ref"))
        .as[(Seq[String], Seq[String])].collect()
      row.foreach { case (fast, ref) => assert(fast == ref, s"seed=$seed n=$n") }
    }
  }

  test("DotProduct/L2Normalize == HOF formulation on random vectors") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100.0, 100.0))
    (1 to 30).foreach { seed =>
      val a = sample(vecGen, seed).toArray
      val b = sample(vecGen, seed + 1000).toArray
      val df = Seq((a, b)).toDF("a", "b")
      val hofDot = aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
        lit(0.0), (acc, x) => acc + x)
      val norm = sqrt(aggregate(transform(col("a"), x => x * x), lit(0.0),
        (acc, x) => acc + x))
      val hofNorm = transform(col("a"), x => x / norm)
      val (fd, rd, fn, rn) = df.select(
        VectorOps.dot(col("a"), col("b")).as("fd"), hofDot.as("rd"),
        VectorOps.l2normalize(col("a")).as("fn"), hofNorm.as("rn"))
        .as[(Double, Double, Seq[Double], Seq[Double])].head()
      assert(fd == rd, s"seed=$seed dot")
      assert(fn == rn, s"seed=$seed norm")
    }
  }

  test("DSL precedence: random AND/OR chains match a reference evaluator") {
    import graft.dsl.ResourceFilter
    // 8-row truth table over three 2-valued fields
    val combos = for (s <- Seq("s1", "s2"); t <- Seq("t1", "t2");
                      c <- Seq("c1", "c2")) yield (s, t, c)
    val df = combos.zipWithIndex.map { case ((s, t, c), i) =>
      (i.toString, s, t, c, Map.empty[String, String]) }
      .toDF("resource_id", "resource_site", "resource_type",
        "resource_class", "resource_metadata")
    val fields = Vector(
      ("resource_site", (r: (String, String, String)) => r._1, Seq("s1", "s2", "zz")),
      ("resource_type", (r: (String, String, String)) => r._2, Seq("t1", "t2", "zz")),
      ("resource_class", (r: (String, String, String)) => r._3, Seq("c1", "c2", "zz")))
    val condGen = for {
      fi <- Gen.chooseNum(0, 2)
      vi <- Gen.chooseNum(0, 2)
      eq <- Gen.oneOf(true, false)
    } yield (fi, vi, eq)
    val chainGen = for {
      conds <- Gen.listOfN(5, condGen)
      ops <- Gen.listOfN(4, Gen.oneOf("AND", "OR"))
    } yield (conds, ops)
    (1 to 25).foreach { seed =>
      val (conds, ops) = sample(chainGen, seed)
      val dsl = conds.map { case (fi, vi, eq) =>
        val (name, _, vals) = fields(fi)
        s"""$name ${if (eq) "=" else "!="} "${vals(vi)}""""
      }.zipAll(ops, "", "").map { case (c, o) => s"$c $o" }
        .mkString(" ").trim
      // reference eval: AND binds tighter — split the chain at ORs, a row
      // passes if any AND-run is all-true
      def rowPasses(r: (String, String, String)): Boolean = {
        val truths = conds.map { case (fi, vi, eq) =>
          val (_, get, vals) = fields(fi)
          if (eq) get(r) == vals(vi) else get(r) != vals(vi)
        }
        val runs = scala.collection.mutable.ListBuffer(
          scala.collection.mutable.ListBuffer(truths.head))
        ops.zip(truths.tail).foreach { case (op, t) =>
          if (op == "AND") runs.last += t
          else runs += scala.collection.mutable.ListBuffer(t)
        }
        runs.exists(_.forall(identity))
      }
      val expect = combos.zipWithIndex.collect {
        case (r, i) if rowPasses(r) => i.toString }.toSet
      val got = df.filter(ResourceFilter.parse(dsl))
        .select("resource_id").as[String].collect().toSet
      assert(got == expect, s"seed=$seed dsl=[$dsl]")
    }
  }

  test("rollingMean == brute-force trailing-window reference on random series") {
    import graft.operators.TimeSeries
    val evGen = Gen.listOfN(60, for {
      s <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(0L, 200L)
      v <- Gen.chooseNum(0, 9999)
    } yield (s, t, v / 100.0))
    (1 to 10).foreach { seed =>
      val evs = sample(evGen, seed)
      val got = TimeSeries.rollingMean(evs.toDF("series", "ts_us", "value"),
          Seq("series"), "ts_us", "value", stepMicros = 10L, windowSteps = 3)
        .as[(String, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      // reference: bucket sums in plain Scala (BigDecimal = exact), then
      // average every bucket within [b-20, b]
      val sums = evs.groupBy(e => (e._1, e._2 - e._2 % 10))
        .map { case (k, es) =>
          k -> ((es.map(e => BigDecimal(e._3).setScale(2,
            BigDecimal.RoundingMode.HALF_UP)).sum, es.size.toLong)) }
      val expect = sums.map { case ((s, b), _) =>
        val in = sums.filter { case ((s2, b2), _) =>
          s2 == s && b2 >= b - 20 && b2 <= b }
        val n = in.values.map(_._2).sum
        val tot = in.values.map(_._1).sum
        (s, b) -> ((n, BigDecimal(tot.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      assert(got == expect, s"seed=$seed")
    }
  }

  test("retention invariants: offset-0 diagonal counts each cohort once") {
    import graft.operators.Cohorts
    val evGen = Gen.listOfN(80, for {
      u <- Gen.chooseNum(1L, 12L)
      t <- Gen.chooseNum(0L, 300L)
    } yield (u, t))
    (1 to 10).foreach { seed =>
      val evs = sample(evGen, seed)
      val cells = Cohorts.retention(evs.toDF("user_id", "ts_us"),
          "user_id", "ts_us", stepMicros = 10L)
        .as[(Long, Long, Long)].collect()
      val users = evs.map(_._1).distinct.size.toLong
      // every user is active in their own first period, so the offset-0
      // column partitions the user set exactly
      assert(cells.filter(_._2 == 0L).map(_._3).sum == users, s"seed=$seed")
      // no cell exceeds its cohort's size and offsets are non-negative
      val cohortSize = cells.filter(_._2 == 0L).map(c => c._1 -> c._3).toMap
      assert(cells.forall(c => c._2 >= 0 && c._3 <= cohortSize(c._1)),
        s"seed=$seed")
    }
  }

  test("slidingChunks: every token covered, no chunk redundant") {
    import graft.llm.TextAnalysis
    val paramGen = for {
      nTok <- Gen.chooseNum(1, 40)
      window <- Gen.chooseNum(1, 12)
      stride <- Gen.chooseNum(1, 12) if stride <= window
    } yield (nTok, window, stride)
    (1 to 30).foreach { seed =>
      val (nTok, window, stride) = sample(paramGen, seed)
      val toks = (1 to nTok).map(i => s"t$i")
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.slidingChunks(df, "text", "doc_id",
          window, stride)
        .select("chunk_idx", "chunk_text", "n_tokens")
        .as[(Int, String, Int)].collect().sortBy(_._1)
      val covered = chunks.flatMap(_._2.split(" ")).toSet
      assert(covered == toks.toSet,
        s"seed=$seed n=$nTok w=$window s=$stride: coverage hole")
      // chunk_idx consecutive from 0; every chunk contributes new tokens
      assert(chunks.map(_._1).toSeq == chunks.indices.toSeq, s"seed=$seed")
      val ends = chunks.map(c => c._1 * stride + c._3)
      assert(ends.toSeq == ends.sorted.distinct.toSeq,
        s"seed=$seed: a chunk added no new tokens")
    }
  }

  test("crossCorpusKeep: survivors subset input; exact ref copies never survive") {
    import graft.llm.Dedup
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val docGen = Gen.listOfN(6, word).map(_.mkString(" "))
    (1 to 10).foreach { seed =>
      val refTexts = (1 to 5).map(i => sample(docGen, seed * 100 + i))
      val ref = refTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // fresh corpus: half exact copies of ref docs, half random
      val fresh = (refTexts.take(2) ++
        (1 to 3).map(i => sample(docGen, seed * 991 + i)))
        .zipWithIndex.map { case (t, i) => (100L + i, t) }
      val freshDf = fresh.toDF("doc_id", "text")
      val kept = Dedup.crossCorpusKeep(freshDf, ref, "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(kept.subsetOf(fresh.map(_._1).toSet), s"seed=$seed")
      // ids 100, 101 are verbatim reference texts → all bands collide
      assert(!kept.contains(100L) && !kept.contains(101L), s"seed=$seed")

      // the incremental path — a precomputed bandSet — drops EXACTLY the
      // same rows as the inline reference computation
      val viaSet = Dedup.keepAgainstBandSet(freshDf,
          Dedup.bandSet(ref, "text", "doc_id"), "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
      assert(viaSet == kept, s"seed=$seed")

      // band sets are ADD-ONLY under reference appends: refreshing with
      // the new docs' set alone equals recomputing over the union
      val (refA, refB) = refTexts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.splitAt(3)
      val unioned = Dedup.bandSet(refA.toDF("doc_id", "text"), "text", "doc_id")
        .union(Dedup.bandSet(refB.toDF("doc_id", "text"), "text", "doc_id"))
        .distinct().as[(Int, String)].collect().toSet
      val recomputed = Dedup.bandSet(ref, "text", "doc_id")
        .as[(Int, String)].collect().toSet
      assert(unioned == recomputed, s"seed=$seed")
    }
  }

  test("asof joins == brute-force nearest match on random timelines") {
    // Both directions of the union+window kernel against an O(n·m)
    // in-memory reference, over randomized keys/timestamps with ties
    // across sides (equality must match inclusively) and sparse keys.
    val rowGen = for {
      k <- Gen.chooseNum(1, 4)
      ts <- Gen.chooseNum(0L, 40L) // small range → frequent ts collisions
    } yield (k.toLong, ts)
    (1 to 15).foreach { seed =>
      val leftRows = sample(Gen.listOfN(25, rowGen), seed * 7 + 1)
        .zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
      // right unique per (key, ts) — the operator's documented contract
      val rightRows = sample(Gen.listOfN(25, rowGen), seed * 13 + 5)
        .distinct.map { case (k, ts) => (k, ts, k * 1000.0 + ts) }
      val left = leftRows.toDF("lid", "k", "lts")
      val right = rightRows.toDF("k", "rts", "payload")

      def brute(forward: Boolean): Map[Long, Option[Long]] =
        leftRows.map { case (lid, k, lts) =>
          val cands = rightRows.filter(r => r._1 == k &&
            (if (forward) r._2 >= lts else r._2 <= lts)).map(_._2)
          lid -> (if (cands.isEmpty) None
                  else Some(if (forward) cands.min else cands.max))
        }.toMap

      val back = AsofJoin.leftAsof(left, right, "k", "lts", "rts")
        .select("lid", "asof_ts").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      assert(back == brute(forward = false), s"backward seed=$seed")

      val fwd = AsofJoin.leftAsofForward(left, right, "k", "lts", "rts")
        .select("lid", "asof_ts").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      assert(fwd == brute(forward = true), s"forward seed=$seed")

      // nearest: min |Δ|, tie → the EARLIER right ts (with/without a
      // symmetric tolerance) — brute-forced per left row
      def bruteNearest(tol: Option[Long]): Map[Long, Option[Long]] =
        leftRows.map { case (lid, k, lts) =>
          val cands = rightRows.filter(_._1 == k).map(_._2)
            .filter(r => tol.forall(t => math.abs(r - lts) <= t))
          lid -> (if (cands.isEmpty) None
                  else Some(cands.minBy(r => (math.abs(r - lts), r))))
        }.toMap
      Seq(None, Some(5L)).foreach { tol =>
        val near = AsofJoin.leftAsofNearest(left, right, "k", "lts",
            "rts", tolerance = tol)
          .select("lid", "asof_ts").collect()
          .map(r => r.getLong(0) ->
            Option(r.get(1)).map(_.asInstanceOf[Long]))
          .toMap
        assert(near == bruteNearest(tol), s"nearest seed=$seed tol=$tol")
      }
    }
  }

  test("ohlc == brute-force candles on random series with ts collisions") {
    import graft.operators.TimeSeries
    val evGen = for {
      series <- Gen.oneOf("a", "b")
      ts <- Gen.chooseNum(-25L, 25L) // negatives + frequent collisions
      v <- Gen.chooseNum(-99, 99)
    } yield (series, ts, v / 4.0)
    (1 to 10).foreach { seed =>
      val rows = sample(Gen.listOfN(40, evGen), seed * 11 + 3)
        .zipWithIndex.map { case ((s, ts, v), i) => (s, ts, i.toLong, v) }
      val df = rows.toDF("series", "ts_us", "event_id", "value")
      val got = TimeSeries.ohlc(df, Seq("series"), "ts_us", "event_id",
          "value", stepMicros = 10L)
        .select("series", "bucket", "open", "high", "low", "close",
          "n_events")
        .as[(String, Long, Double, Double, Double, Double, Long)]
        .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6,
          r._7))).toMap
      // brute force: truncate-toward-zero bucket; open/close by the
      // total order (ts, then shortlex id — ids here share one width,
      // so plain numeric order)
      val want = rows.groupBy(r => (r._1, r._2 - r._2 % 10L))
        .map { case (k, grp) =>
          val sorted = grp.sortBy(r => (r._2, r._3))
          k -> ((sorted.head._4, grp.map(_._4).max, grp.map(_._4).min,
            sorted.last._4, grp.size.toLong))
        }
      assert(got == want, s"seed=$seed")
    }
  }

  // --- the round-5 canonicalized pair generators against their primitive
  // compositions: the rewrites collapse duplicates internally; these pin
  // that the emitted PAIR SETS are unchanged on duplicate-heavy corpora

  test("canonicalized minhashLsh == bandRows∘lshCandidatePairs composition") {
    import graft.llm.Dedup
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.listOfN(8, Gen.oneOf(vocab)).map(_.mkString(" "))
    (1 to 12).foreach { seed =>
      // corpus with forced duplication: each sampled text appears 1-3×
      val texts = (0 until 8).flatMap { i =>
        val t = sample(docGen, seed * 100 + i)
        Seq.fill(1 + (seed + i) % 3)(t)
      }.zipWithIndex.map { case (t, id) => (id.toLong, t) }
      val df = texts.toDF("doc_id", "text")
      val canonical = Dedup.minhashLsh(df, "text", "doc_id")
        .as[(Long, Long)].collect().toSet
      val sigs = Dedup.minhashSignatures(
        Dedup.shingles(df, "text", "doc_id", 3), "doc_id", 8)
      val composed = Dedup.lshCandidatePairs(
        Dedup.lshBands(sigs, "doc_id", 8, 4), "doc_id")
        .as[(Long, Long)].collect().toSet
      assert(canonical == composed, s"seed=$seed")
    }
  }

  test("canonicalized cosineNearDupPairs == per-id bucket-join formulation") {
    import graft.llm.Similarity
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-1.0f, 1.0f))
    (1 to 10).foreach { seed =>
      val base = (0 until 10).map(i => sample(vecGen, seed * 50 + i).toArray)
      // duplicate some vectors so the canonicalization path is exercised
      val vecs = (base ++ base.take(4)).zipWithIndex
        .map { case (v, id) => (id.toLong, v) }
      val df = vecs.toDF("vec_id", "embedding")
      val b = 2; val dim = 8; val threshold = 0.2
      val canonical = Similarity.cosineNearDupPairs(df, "vec_id",
        "embedding", threshold, b, dim)
        .as[(Long, Long, Double)].collect().toSet
      // reference: per-id bucket + pairwise score (the pre-round-5 shape)
      val withB = df.filter(size(col("embedding")) >= dim)
        .select(col("vec_id"),
          Similarity.normalize(col("embedding")).as("nv"),
          graft.llm.IvfIndex.Signs(b, dim).home(col("embedding"))
            .as("bucket"))
      val ref = withB.select(col("bucket"), col("vec_id").as("id_a"),
          col("nv").as("va"))
        .join(withB.select(col("bucket"), col("vec_id").as("id_b"),
          col("nv").as("vb")), Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("score", round(Similarity.dot(col("va"), col("vb")), 6))
        .filter(col("score") >= threshold)
        .select(col("id_a"), col("id_b"), col("score"))
        .as[(Long, Long, Double)].collect().toSet
      assert(canonical == ref, s"seed=$seed")
    }
  }

  test("single-scan winnowPairs == fingerprint-join formulation") {
    import graft.llm.Dedup
    val vocab = Seq("one", "two", "three", "four", "five", "six", "seven")
    val docGen = Gen.listOfN(14, Gen.oneOf(vocab)).map(_.mkString(" "))
    (1 to 12).foreach { seed =>
      val texts = (0 until 10).map(i => sample(docGen, seed * 30 + i))
        .zipWithIndex.map { case (t, id) => (id.toLong, t) }
      val df = texts.toDF("doc_id", "text")
      val fast = Dedup.winnowPairs(df, "text", "doc_id", k = 3, w = 4,
        minShared = 1).as[(Long, Long, Long)].collect().toSet
      val fps = Dedup.winnowFingerprints(df, "text", "doc_id", k = 3, w = 4)
      val ref = fps.select(col("fp"), col("doc_id").as("id_a"))
        .join(fps.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
        .as[(Long, Long, Long)].collect().toSet
      assert(fast == ref, s"seed=$seed")
    }
  }

  test("CC: star & label-prop match union-find truth on motif graphs") {
    import graft.llm.Dedup
    // structured adversaries for connected components: chains (deep
    // diameter — the label-prop worst case), stars (hub fan-out), cliques
    // (dense neighborhoods), plus random bridge edges that merge motifs.
    // Ground truth is a plain union-find pointing larger roots at
    // smaller, i.e. every node labels with its component MINIMUM — the
    // exact output contract both cluster operators claim.
    val motifGen = for {
      kind <- Gen.oneOf(0, 1, 2)
      n <- Gen.chooseNum(2, 14)
    } yield (kind, math.min(n, if (kind == 2) 9 else 14))
    val graphGen = for {
      motifs <- Gen.listOfN(5, motifGen)
      bridges <- Gen.chooseNum(0, 6)
    } yield (motifs, bridges)
    (1 to 2).foreach { seed =>
      val (motifs, bridges) = sample(graphGen, seed.toLong)
      val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var base = 0L
      var maxDiam = 1L
      motifs.foreach { case (kind, n) =>
        val ids = (0 until n).map(base + _)
        kind match {
          case 0 => // chain
            ids.sliding(2).foreach { w => edges += ((w(0), w(1))) }
            maxDiam = math.max(maxDiam, n - 1L)
          case 1 => // star
            ids.tail.foreach(b => edges += ((ids.head, b)))
            maxDiam = math.max(maxDiam, 2L)
          case 2 => // clique
            for (i <- ids; j <- ids if i < j) edges += ((i, j))
        }
        base += n + 3 // id gap keeps motifs disjoint until a bridge joins
      }
      val rng = new scala.util.Random(seed * 97L)
      (0 until bridges).foreach { _ =>
        val a = rng.nextInt(base.toInt).toLong
        val b = rng.nextInt(base.toInt).toLong
        if (a != b) edges += ((a, b))
      }
      // union-find with larger-root-under-smaller union: find() = min id
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val truth = nodes.map(x => x -> find(x)).toMap
      val df = edges.toSeq.toDF("id_a", "id_b")
      val (starLabels, rounds) =
        Dedup.clustersStarWithRounds(df, "id_a", "id_b", maxIters = 30)
      assert(starLabels.as[(Long, Long)].collect().toMap == truth,
        s"clustersStar != union-find (seed=$seed)")
      assert(Dedup.clusters(df, maxIters = 60)
        .as[(Long, Long)].collect().toMap == truth,
        s"clusters != union-find (seed=$seed)")
      // the O(log d) claim, with the paper's constant slack: path
      // doubling halves depth per (large+small) alternation
      val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(
        math.max(2L, maxDiam))) + 4
      assert(rounds <= bound,
        s"rounds=$rounds exceeds log bound=$bound (diam≈$maxDiam, seed=$seed)")
      info(s"seed=$seed: ${edges.size} edges, diam≈$maxDiam, " +
        s"star rounds=$rounds (bound $bound)")
    }
  }

  test("mixtureSchedule: WFQ prefix invariant on random weights/corpora") {
    import graft.llm.Sampling
    val caseGen = for {
      nSources <- Gen.chooseNum(2, 5)
      weights <- Gen.listOfN(nSources, Gen.chooseNum(1L, 9L))
      sizes <- Gen.listOfN(nSources, Gen.chooseNum(0, 40))
    } yield (weights, sizes)

    (1 to 10).foreach { seed =>
      val (ws, sizes) = sample(caseGen, seed)
      val sources = ws.indices.map(i => s"s$i")
      val rows = sources.zip(sizes).flatMap { case (src, n) =>
        (1 to n).map(i => (s"$src-$i".hashCode.toLong * 1000 + i, src))
      }
      if (rows.nonEmpty) {
        val out = Sampling.mixtureSchedule(
            rows.toDF("doc_id", "source"), "doc_id", "source",
            weights = sources.zip(ws))
          .select("source", "sched_key").as[(String, Long)].collect()
        val lcm = ws.reduce((a, b) => a / BigInt(a).gcd(BigInt(b)).toLong * b)
        val stride = sources.zip(ws.map(lcm / _)).toMap
        // invariant: among keys <= K, source i served exactly
        // min(floor(K/stride_i), |i|) docs — the mixture holds in EVERY
        // prefix of the schedule
        val counts = sources.zip(sizes).toMap
        val checkpoints = out.map(_._2).distinct.sorted.take(50)
        for (k <- checkpoints; src <- sources) {
          val served = out.count(r => r._1 == src && r._2 <= k)
          val want = math.min(k / stride(src), counts(src).toLong)
          assert(served == want, s"seed=$seed src=$src K=$k")
        }
      }
    }
  }

  test("splitLeakageExact == brute force on random corpora with dups") {
    import graft.llm.Sampling
    val corpusGen = for {
      n <- Gen.chooseNum(5, 60)
      // small text universe → guaranteed cross-split duplicate pressure;
      // occasional whitespace/case variants exercise normalization
      texts <- Gen.listOfN(n, Gen.oneOf(
        "alpha beta", "ALPHA   beta", "gamma delta", "gamma  DELTA",
        "epsilon", "zeta eta theta", "unique words here"))
      pct <- Gen.oneOf(0.3, 0.5, 0.8)
    } yield (texts, pct)

    def norm(s: String) =
      java.text.Normalizer.normalize(
        s.toLowerCase.replaceAll("\\s+", " ").trim,
        java.text.Normalizer.Form.NFC)

    (1 to 10).foreach { seed =>
      val (texts, pct) = sample(corpusGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = docs.toDF("doc_id", "text")
      val split = Sampling.split(df, "doc_id", pct)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
      val trainCounts = docs.filter(d => split(d._1) == "train")
        .groupBy(d => norm(d._2)).view.mapValues(_.size.toLong).toMap
      val expected = docs.filter(d => split(d._1) == "val").map { d =>
        val n = trainCounts.getOrElse(norm(d._2), 0L)
        (d._1, n, n > 0)
      }.toSet
      val got = Sampling.splitLeakageExact(df, "text", "doc_id", pct)
        .select("doc_id", "n_train_dups", "leaked")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(got == expected, s"seed=$seed pct=$pct")
    }
  }

  test("bigramNll == brute-force add-one bigram model on random corpora") {
    import graft.llm.Corpus
    val vocabWords = Vector("a", "b", "c", "dd", "ee")
    val corpusGen = for {
      n <- Gen.chooseNum(2, 12)
      docs <- Gen.listOfN(n, Gen.chooseNum(1, 8).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocabWords)).map(_.mkString(" "))))
    } yield docs

    (1 to 8).foreach { seed =>
      val texts = sample(corpusGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val v = toks.flatMap(_._2).distinct.size
      val bigrams = toks.flatMap { case (id, ws) =>
        ws.sliding(2).filter(_.size == 2).map(p => (id, p(0), p(1))) }
      val c12 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size).toMap
      val c1 = bigrams.groupBy(_._2).view.mapValues(_.size).toMap
      def nll9(w1: String, w2: String) =
        BigDecimal(-math.log((c12((w1, w2)) + 1.0) / (c1(w1) + 1.0 * v)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
        val s = bs.map(b => nll9(b._2, b._3)).sum
        // engine divides the decimal sum AS A DOUBLE by the count (then
        // rounds to 6 dp) — mirror that, not BigDecimal division
        (id, bs.size.toLong,
          BigDecimal(s.toDouble / bs.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      val got = Corpus.bigramNll(docs.toDF("doc_id", "text"), "text", "doc_id")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"seed=$seed")
    }
  }

  test("knTrigramNll == brute-force interpolated Kneser-Ney on random corpora") {
    import graft.llm.Corpus
    val vocabWords = Vector("a", "b", "c", "dd", "ee")
    val corpusGen = for {
      n <- Gen.chooseNum(2, 12)
      docs <- Gen.listOfN(n, Gen.chooseNum(1, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocabWords)).map(_.mkString(" "))))
    } yield docs
    val D = 0.75
    (1 to 8).foreach { seed =>
      val texts = sample(corpusGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }
      val tris = toks.flatMap { case (id, ws) =>
        ws.sliding(3).filter(_.size == 3).map(g => (id, g(0), g(1), g(2))) }
      if (tris.nonEmpty) {
        // the model tables, sequentially: trigram types + counts, then
        // every N1+ continuation count off the distinct-type set
        val c123 = tris.groupBy(t => (t._2, t._3, t._4))
          .view.mapValues(_.size.toLong).toMap
        val types = c123.keySet
        val c12 = c123.groupBy { case ((w1, w2, _), _) => (w1, w2) }
          .view.mapValues(_.values.sum).toMap
        val t12 = types.groupBy(t => (t._1, t._2)).view.mapValues(_.size).toMap
        val mid = types.map(t => (t._2, t._3))        // distinct (w2,w3)
        val mc = types.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
        val m2 = types.groupBy(_._2).view.mapValues(_.size).toMap // Σ_w3 mc
        val t2 = mid.groupBy(_._1).view.mapValues(_.size).toMap
        val uc = mid.groupBy(_._2).view.mapValues(_.size).toMap
        val tot = mid.size
        def nll9(w1: String, w2: String, w3: String) = {
          val p = math.max(c123((w1, w2, w3)) - D, 0.0) / c12((w1, w2)) +
            (D * t12((w1, w2)) / c12((w1, w2))) *
              (math.max(mc((w2, w3)) - D, 0.0) / m2(w2) +
                (D * t2(w2) / m2(w2)) * (uc(w3).toDouble / tot))
          BigDecimal(-math.log(p))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }
        val expected = tris.groupBy(_._1).map { case (id, gs) =>
          val s = gs.map(g => nll9(g._2, g._3, g._4)).sum
          (id, gs.size.toLong,
            BigDecimal(s.toDouble / gs.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSet
        val got = Corpus.knTrigramNll(docs.toDF("doc_id", "text"),
          "text", "doc_id").as[(Long, Long, Double)].collect().toSet
        assert(got == expected, s"seed=$seed")
      }
    }
  }

  test("CharWindows/AllShingles kernels == sliding reference on random input") {
    import graft.functions.{AllShingles, CharWindows}
    val strGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    (1 to 30).foreach { seed =>
      val s = sample(strGen, seed)
      val window = 1 + seed % 9
      val stride = 1 + (seed / 3) % window
      val expectedW =
        if (s.length < window) Seq.empty
        else (0 to (s.length - window) by stride)
          .map(i => s.substring(i, i + window))
      val gotW = Seq(s).toDF("s")
        .select(CharWindows.charWindows(col("s"), window, stride))
        .as[Seq[String]].head()
      assert(gotW == expectedW, s"seed=$seed s=$s w=$window st=$stride")

      val toks = sample(Gen.listOfN(seed % 12,
        Gen.oneOf("a", "bb", "ccc", "dd")), seed + 1000)
      val n = 1 + seed % 3
      val expectedS =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val gotS = Seq(toks).toDF("t")
        .select(AllShingles.allShingles(col("t"), n))
        .as[Seq[String]].head()
      assert(gotS == expectedS, s"seed=$seed toks=$toks n=$n")
    }
  }

  test("int8 snap kernel == dequantize∘int8Codes chain bit-for-bit") {
    import graft.llm.Quantize
    val vecGen = Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n,
      Gen.oneOf(
        Gen.chooseNum(-1000000, 1000000).map(_ / 9999.0f),
        Gen.oneOf(0.0f, -0.0f, 127.5f, -127.5f, 63.5f))))
    (1 to 40).foreach { seed =>
      val v = sample(vecGen, seed)
      val df = Seq(Tuple1(v)).toDF("v")
      val chain = df.select(Quantize.dequantize(
        graft.llm.Quantize.int8Codes(col("v")),
        graft.llm.Quantize.absMax(col("v")) / 127.0)).as[Seq[Double]].head()
      val snap = df.select(Quantize.snap(col("v"))).as[Seq[Double]].head()
      assert(snap.map(java.lang.Double.doubleToLongBits(_)) ==
        chain.map(java.lang.Double.doubleToLongBits(_)),
        s"seed=$seed v=$v chain=$chain snap=$snap")
    }
  }

  test("pq encode == brute-force argmin over the same codebooks") {
    import graft.llm.Pq
    val m = 4; val k = 8; val subDim = 4
    val cbs = Pq.codebooks(m, k, subDim)
    val vecGen = Gen.listOfN(m * subDim,
      Gen.chooseNum(-1000, 1000).map(_ / 250.0f))
    (1 to 15).foreach { seed =>
      val vecs = (0 until 20).map(i =>
        (i.toLong, sample(vecGen, seed * 100 + i).toArray))
      val got = Pq.encode(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding", m, k, subDim)
        .as[(Long, Seq[Int])].collect().toMap
      vecs.foreach { case (id, v) =>
        val expected = (0 until m).map { j =>
          val sub = v.slice(j * subDim, (j + 1) * subDim).map(_.toDouble)
          // same comparison idiom: dot(c,c) − 2·dot(sub,c), ties → low c
          val scores = (0 until k).map { c =>
            val cb = cbs(j)(c)
            var dsc = 0.0
            var i = 0
            while (i < subDim) { dsc += sub(i) * cb(i); i += 1 }
            (Pq.selfDot(cb) - 2.0 * dsc, c)
          }
          scores.min._2
        }
        assert(got(id) == expected, s"seed=$seed id=$id")
      }
    }
  }

  test("chunkDupStats == brute-force multiplicity fold on random corpora") {
    import graft.llm.Dedup
    // tiny vocab forces chunk collisions within AND across docs
    val docGen = Gen.listOfN(12,
      Gen.chooseNum(1, 9).flatMap(n =>
        Gen.listOfN(n * 3, Gen.oneOf("a", "b", "c", "d"))
          .map(_.mkString(" "))))
    val w = 3
    (1 to 8).foreach { seed =>
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // brute force: chunk every doc, count multiplicities globally
      val allChunks = docs.flatMap { case (id, t) =>
        t.split("\\s+").grouped(w).map(c => (id, c.mkString(" ")))
      }
      val mult = allChunks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val expected = docs.map { case (id, t) =>
        val cs = t.split("\\s+").grouped(w).map(_.mkString(" ")).toSeq
        val nDup = cs.count(c => mult(c) > 1).toLong
        val sumMult = cs.map(mult).sum
        id -> ((cs.size.toLong, nDup, sumMult))
      }.toMap
      val got = Dedup.chunkDupStats(docs.toDF("doc_id", "text"),
        "text", "doc_id", w)
        .select("doc_id", "n_chunks", "n_dup", "sum_mult")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("robustZscore == brute-force lower-median/MAD on random multisets") {
    import graft.operators.TimeSeries
    val gen = Gen.listOfN(40, for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(-20, 20).map(_ / 4.0) // duplicates and ties likely
    } yield (g, v))
    def lowerMedian(xs: Seq[Double]): Double = {
      val s = xs.sorted; s((s.size + 1) / 2 - 1)
    }
    (1 to 8).foreach { seed =>
      val data = sample(gen, seed)
      val df = data.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
        .toDF("id", "series", "value")
      val expected = data.groupBy(_._1).map { case (g, gvs) =>
        val vs = gvs.map(_._2)
        val med = lowerMedian(vs)
        g -> ((med, lowerMedian(vs.map(v => math.abs(v - med)))))
      }
      val out = TimeSeries.robustZscore(df, Seq("series"), "value")
      val got = out.select("series", "series_med", "series_mad")
        .distinct().as[(String, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected, s"seed=$seed")
      // and every row's score is exactly the formula on those order stats
      out.select("series", "value", "robust_z").collect().foreach { r =>
        val (med, mad) = expected(r.getString(0))
        if (mad > 0)
          assert(r.getDouble(2) == 0.6745 * (r.getDouble(1) - med) / mad)
        else assert(r.isNullAt(2), s"seed=$seed MAD=0 must null out")
      }
    }
  }

  test("session paths == brute-force session walk on random event logs") {
    import graft.operators.Sessionize
    val gen = Gen.listOfN(50, for {
      u <- Gen.chooseNum(1, 4)
      t <- Gen.chooseNum(0L, 500L) // dense range → ts collisions happen
      e <- Gen.oneOf("v", "c", "p")
    } yield (u.toLong, t, e))
    val gap = 50L
    (1 to 8).foreach { seed =>
      val data = sample(gen, seed).zipWithIndex
        .map { case ((u, t, e), i) => (i.toLong, u, t, e) }
      val expected = data.groupBy(_._2).values.flatMap { evs =>
        val sorted = evs.sortBy(ev => (ev._3, ev._1)) // (ts, id) tie order
        val sessions =
          scala.collection.mutable.ListBuffer(Vector.empty[String])
        var prev = Long.MinValue / 2
        sorted.foreach { case (_, _, t, e) =>
          if (sessions.last.nonEmpty && t - prev > gap)
            sessions += Vector.empty[String]
          sessions(sessions.size - 1) = sessions.last :+ e
          prev = t
        }
        sessions.map(_.take(3).mkString(">"))
      }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (p, n) => (-n, p) }.take(10)
      val got = Sessionize.pathsTopK(
        data.toDF("event_id", "user_id", "ts_us", "event_type"),
        "user_id", "ts_us", "event_id", "event_type",
        gapMicros = gap, maxSteps = 3, topN = 10)
        .as[(String, Long)].collect().toSeq
      assert(got == expected, s"seed=$seed")
    }
  }

  test("chunk rebuilds == brute force: first-occurrence keep vs drop-all") {
    import graft.llm.Dedup
    // odd token counts too, so the last w=2 chunk is often ragged
    val docGen = Gen.listOfN(10,
      Gen.chooseNum(1, 11).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    val w = 2
    (1 to 8).foreach { seed =>
      val texts = sample(docGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      def chunksOf(t: String) =
        t.split("\\s+").grouped(w).map(_.mkString(" ")).toVector
      // brute chunkDedup: first occurrence in global (doc_id, idx) order
      val seen = scala.collection.mutable.Set[String]()
      val expectDedup = docs.flatMap { case (id, t) =>
        val kept = chunksOf(t).filter(c => seen.add(c))
        if (kept.isEmpty) None else Some(id -> kept.mkString(" "))
      }.toMap
      // brute deboilerplate: all occurrences of mult>=2 chunks die
      val mult = docs.flatMap(d => chunksOf(d._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val expectDeboiler = docs.flatMap { case (id, t) =>
        val kept = chunksOf(t).filter(c => mult(c) < 2)
        if (kept.isEmpty) None else Some(id -> kept.mkString(" "))
      }.toMap
      // brute dedupWithinDoc: each doc keeps its own first occurrences
      val expectWithin = docs.map { case (id, t) =>
        id -> chunksOf(t).distinct.mkString(" ")
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val gotDedup = Dedup.chunkDedup(df, "text", "doc_id", w)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      val gotDeboiler = Dedup.deboilerplate(df, "text", "doc_id", w,
        maxMult = 2)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      val gotWithin = Dedup.dedupWithinDoc(df, "text", "doc_id", w)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      assert(gotDedup == expectDedup, s"seed=$seed dedup")
      assert(gotDeboiler == expectDeboiler, s"seed=$seed deboiler")
      assert(gotWithin == expectWithin, s"seed=$seed within")
    }
  }

  test("urlNormalize is idempotent on randomized crawl URLs") {
    import graft.llm.TextAnalysis
    val urlGen = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("Example.COM", "sub.Host.io", "h.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/A/b", "/Docs/1/", "/p//")
      params <- Gen.someOf(Seq("b=2", "a=1", "utm_source=x", "ref=z",
        "fbclid=q", "z=9")).map(_.toList)
      frag <- Gen.oneOf("", "#frag", "#a/b?c")
    } yield s"$scheme://$www$host$port$path" +
      (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag
    val urls = (1 to 60).map(seed => sample(urlGen, seed)).distinct
    val out = urls.toDF("url")
      .select(TextAnalysis.urlNormalize(col("url")).as("n1"))
      .select(col("n1"),
        TextAnalysis.urlNormalize(col("n1")).as("n2"))
      .as[(String, String)].collect()
    out.foreach { case (n1, n2) =>
      assert(n1 == n2, s"not idempotent: $n1 -> $n2")
    }
  }

  test("pagerank agrees with a brute-force integer replay on random graphs") {
    import graft.operators.Graph
    val edgeGen = for {
      n <- Gen.chooseNum(5, 25)
      m <- Gen.chooseNum(n, 4 * n)
      es <- Gen.listOfN(m, for {
        s <- Gen.chooseNum(0, n - 1); t <- Gen.chooseNum(0, n - 1)
        if s != t
      } yield (s.toLong, t.toLong))
    } yield (n, es.distinct)
    (1 to 5).foreach { seed =>
      val (n, es) = sample(edgeGen, seed)
      val scale = 1000000L
      val got = Graph.pagerank((0 until n).map(_.toLong).toDF("id"),
          es.toDF("src", "dst"), "id", iters = 3, scale = scale)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute-force: the same integer recurrence in plain Scala
      val deg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var p = Array.fill(n)(scale / n)
      for (_ <- 1 to 3) {
        val in = Array.fill(n)(0L)
        es.foreach { case (s, t) =>
          in(t.toInt) += p(s.toInt) / deg(s)
        }
        p = Array.tabulate(n)(j => (15L * (scale / n) + 85L * in(j)) / 100L)
      }
      (0 until n).foreach { j =>
        assert(got(j.toLong) === p(j), s"seed=$seed node=$j")
      }
    }
  }

  test("phrase search agrees with a sliding-window scan on random docs") {
    import graft.llm.Index
    val docGen = Gen.listOfN(30,
      Gen.listOfN(20, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" ")))
    (1 to 5).foreach { seed =>
      val docs = sample(docGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val phrase = Seq("x", "y", "x")
      val got = Index.searchPhrase(docs.toDF("doc_id", "text"), "text",
          "doc_id", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = docs.map { case (id, t) =>
        val toks = t.split("\\s+").toSeq
        id -> toks.sliding(phrase.size)
          .count(_ == phrase)
      }.filter(_._2 > 0).toMap
      assert(got === want.map { case (k, v) => k -> v.toLong }, s"seed=$seed")
    }
  }

  test("autocorrelation matches brute-force Pearson on centi-unit values") {
    import graft.operators.TimeSeries
    val valGen = Gen.listOfN(60, Gen.chooseNum(-9999, 9999).map(_ / 100.0))
    (1 to 5).foreach { seed =>
      val vs = sample(valGen, seed)
      val df = vs.zipWithIndex.map { case (v, i) =>
        ("s", i.toLong, i.toLong, v)
      }.toDF("series", "ts", "id", "value")
      val got = TimeSeries.autocorrelation(df, Seq("series"), "ts", "id",
          "value", maxLag = 2)
        .collect().map(r => r.getInt(1) -> r.getDouble(3)).toMap
      for (lag <- 1 to 2) {
        val x = vs.dropRight(lag).map(v => math.round(v * 100).toDouble)
        val y = vs.drop(lag).map(v => math.round(v * 100).toDouble)
        val n = x.size.toDouble
        val (sx, sy) = (x.sum, y.sum)
        val sxy = x.zip(y).map { case (a, b) => a * b }.sum
        val (sxx, syy) = (x.map(a => a * a).sum, y.map(a => a * a).sum)
        val r = (n * sxy - sx * sy) /
          math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        // engine rounds to 6 dp; brute force is the same quantity up to
        // summation order (exact integers well under 2^53 here)
        assert(math.abs(got(lag) - r) < 5e-7,
          s"seed=$seed lag=$lag got=${got(lag)} want=$r")
      }
    }
  }

  test("bpe delta-maintained training == full-recount replay to exhaustion") {
    // Bpe.train keeps the pair-count frame by INCREMENTAL DELTAS (only
    // words the winning pair touches are recounted); this pins it against
    // a brute-force trainer that recounts the whole vocabulary every
    // round, run past exhaustion so the early-stop and the deferred
    // vocab-checkpoint boundaries are both exercised.
    def brute(words: Map[String, Long]): Seq[(Int, String, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] =
        words.map { case (w, c) => w.toVector.map(_.toString) -> c }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long)]
      var continue = true
      while (continue) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (toks, c) =>
          toks.sliding(2).filter(_.size == 2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c
          }
        }
        if (counts.isEmpty) continue = false
        else {
          val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          out += ((out.length + 1, l, r, l + r, c))
          vocab = vocab.toSeq.map { case (toks, wc) =>
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < toks.size) { // left-to-right non-overlapping
              if (i < toks.size - 1 && toks(i) == l && toks(i + 1) == r) {
                merged += l + r; i += 2
              } else { merged += toks(i); i += 1 }
            }
            merged.toVector -> wc
          }.groupMapReduce(_._1)(_._2)(_ + _)
        }
      }
      out.toSeq
    }
    val wordGen = Gen.listOfN(120,
      Gen.chooseNum(1, 5).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString)))
    (1 to 4).foreach { seed =>
      val words = sample(wordGen, seed)
      val df = words.grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
      val want = brute(words.groupBy(identity).view
        .mapValues(_.size.toLong).toMap)
      // budget far past exhaustion: the loop must stop on the empty argmax
      val got = graft.llm.Bpe.train(df, "text", merges = 200)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      assert(got == want, s"seed=$seed\n got=$got\nwant=$want")
    }
  }

  // ---- FileReplay harness: batch ≡ stream under random event-time
  // shuffles. The harness backs 15+ stream_* queries; these pins are its
  // adversarial contract: (1) a one-batch stateless replay emits exactly
  // the batch transform's rows; (2) a two-batch watermarked windowed
  // aggregate — whose real rows all arrive while the watermark is still
  // initial, flushed by the far-future sentinel — emits exactly the
  // batch groupBy, REGARDLESS of row order or watermark delay.

  private def writeEventsParquet(rows: Seq[(String, Long, Long)],
                                 tag: String): (java.nio.file.Path, String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_frprop_$tag")
    rows.toDF("series", "ts_sec", "value")
      .select(col("series"), col("ts_sec").cast("timestamp").as("ts"),
        col("value"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString + "/ev")
    val part = new java.io.File(dir.toString + "/ev").listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    (dir, part.getAbsolutePath)
  }

  private def rmTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("FileReplay.oneBatch: randomized stateless transform ≡ batch") {
    import graft.streaming.FileReplay
    val rowGen = Gen.listOfN(200, for {
      s <- Gen.oneOf("a", "bb", "ccc")
      t <- Gen.chooseNum(1000L, 2000L) // random arrival order by design
      v <- Gen.chooseNum(-50L, 50L)
    } yield (s, t, v))
    (1 to 3).foreach { seed =>
      val rows = sample(rowGen, seed)
      val (dir, part) = writeEventsParquet(rows, s"s$seed")
      try {
        val m = 2 + seed % 3 // randomized transform parameters
        val f = (df: org.apache.spark.sql.DataFrame) =>
          df.filter(pmod(col("value"), lit(m)) === 0)
            .select(col("series"),
              (col("value") * lit(m) + length(col("series"))).as("out"))
        val streamed = FileReplay.replay(spark, part,
            "frprop_one")(source => f(source()))
          .as[(String, Long)].collect().sorted.toSeq
        val batch = f(spark.read.parquet(part))
          .as[(String, Long)].collect().sorted.toSeq
        assert(streamed == batch, s"seed=$seed")
        assert(batch.nonEmpty, s"seed=$seed: degenerate fixture")
      } finally rmTree(dir)
    }
  }

  test("FileReplay.twoBatch: randomized watermarked window agg ≡ batch " +
    "groupBy under event-time shuffle") {
    import graft.streaming.FileReplay
    val rowGen = Gen.listOfN(200, for {
      s <- Gen.oneOf("a", "b", "c")
      t <- Gen.chooseNum(1000L, 1300L)
      v <- Gen.chooseNum(0L, 100L)
    } yield (s, t, v))
    (1 to 3).foreach { seed =>
      val rows = sample(rowGen, seed)
      val (dir, part) = writeEventsParquet(rows, s"t$seed")
      try {
        val w = Seq(10, 30, 60)(seed % 3) // randomized window width
        val delay = Seq(0, 5, 120)(seed % 3) // and watermark delay
        val g = (df: org.apache.spark.sql.DataFrame) =>
          df.withWatermark("ts", s"$delay seconds")
            .groupBy(window(col("ts"), s"$w seconds"), col("series"))
            .agg(sum(col("value")).as("total"),
              count(lit(1)).as("n"))
            .select(col("window.start").as("ws"), col("series"),
              col("total"), col("n"))
        val sentinel = Seq(("__sent__", 100000L, 0L))
          .toDF("series", "ts_sec", "value")
          .select(col("series"), col("ts_sec").cast("timestamp").as("ts"),
            col("value"))
        val streamed = FileReplay.replay(spark, part, "frprop_two",
            Some(sentinel))(source => g(source()))
          .filter(col("series") =!= "__sent__")
          .as[(java.sql.Timestamp, String, Long, Long)]
          .collect().sortBy(r => (r._1.getTime, r._2)).toSeq
        val batch = g(spark.read.parquet(part))
          .as[(java.sql.Timestamp, String, Long, Long)]
          .collect().sortBy(r => (r._1.getTime, r._2)).toSeq
        assert(streamed == batch, s"seed=$seed w=$w delay=$delay")
        assert(batch.size > 3, s"seed=$seed: degenerate fixture")
      } finally rmTree(dir)
    }
  }

  test("histQuantiles: estimate lands in the exact quantile's bucket, " +
    "partition-invariant, negatives degrade out") {
    import graft.llm.Sketches
    val rowGen = Gen.listOfN(300, for {
      k <- Gen.oneOf("a", "b")
      v <- Gen.frequency( // values spanning several decades
        3 -> Gen.chooseNum(0.0, 5.0),
        3 -> Gen.chooseNum(5.0, 500.0),
        2 -> Gen.chooseNum(500.0, 50000.0))
    } yield (k, v))
    def bucketOf(x: Double): (Double, Double) = {
      val gs = math.floor(x * 1000.0).toLong.toString
      val pad = "0" * math.max(gs.length - 2, 0)
      val lead = gs.take(2)
      ((lead + pad).toDouble / 1000.0,
        ((lead.toLong + 1).toString + pad).toDouble / 1000.0)
    }
    (1 to 3).foreach { seed =>
      val rows = sample(rowGen, seed)
      val df = rows.toDF("k", "v")
      val ps = Seq(0.0, 0.5, 0.9, 0.99, 1.0)
      val out = Sketches.histQuantiles(df, Seq("k"), "v", ps)
        .as[(String, Double, Long, Double, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
      val byK = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      for ((k, vs) <- byK; p <- ps) {
        val (n, est, nd) = out((k, p))
        assert(n == vs.size && nd == 0L, s"seed=$seed $k")
        val t = p * vs.size
        val exact = if (t <= 0) vs.head
                    else vs(math.min(math.ceil(t).toInt, vs.size) - 1)
        val (lo, hi) = bucketOf(exact)
        assert(est >= lo - 1e-9 && est <= hi + 1e-9,
          s"seed=$seed $k p=$p est=$est exact=$exact bucket=[$lo,$hi]")
      }
      // partition-order invariance: the sketch is one hash aggregate
      val rep = Sketches.histQuantiles(df.repartition(7), Seq("k"), "v", ps)
        .as[(String, Double, Long, Double, Long)].collect().toSet
      assert(rep == Sketches.histQuantiles(df, Seq("k"), "v", ps)
        .as[(String, Double, Long, Double, Long)].collect().toSet,
        s"seed=$seed: partition-dependent")
      // negatives/nulls leave the estimate but NEVER silently: n excludes
      // them, n_dropped counts them, and an all-excluded group still
      // emits its p rows with n = 0 and a null est
      val withNeg = rows ++ Seq(("a", -5.0), ("b", -0.1), ("z", -1.0),
        ("z", -2.0))
      val q2 = Sketches.histQuantiles(withNeg.toDF("k", "v"),
          Seq("k"), "v", Seq(0.5)).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getLong(4)))).toMap
      assert(q2("a")._1 == byK("a").size && q2("a")._3 == 1L, s"seed=$seed")
      assert(q2("b")._1 == byK("b").size && q2("b")._3 == 1L, s"seed=$seed")
      assert(q2("z") == ((0L, None, 2L)), s"seed=$seed all-dropped group")
    }
  }

  test("semdedup hot-cluster cap: engine == in-memory replay of the " +
    "capped prune rule") {
    import graft.llm.Clustering
    // 60 vectors into k=2 clusters (~30 each) with maxPairSide=7 forces
    // every cluster to split — the cap path is exercised, not just typed
    val vecGen = Gen.listOfN(60, Gen.listOfN(4, Gen.chooseNum(-100, 100)))
    def md5sub(id: Long, nsub: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 13), 16) % nsub
    }
    def norm(v: Array[Float]): Array[Double] = {
      val d = v.map(_.toDouble)
      val n = math.sqrt(d.foldLeft(0.0)((a, x) => a + x * x))
      d.map(_ / n)
    }
    def rdot(a: Array[Double], b: Array[Double]): Double =
      BigDecimal(a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1 * p._2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (cap, thr) = (7, 0.6)
    (1 to 3).foreach { seed =>
      val rows = sample(vecGen, seed).zipWithIndex.map { case (v, i) =>
        val arr = v.map(_ / 100.0f).toArray
        (i.toLong,
          if (arr.forall(_ == 0.0f)) Array(1.0f, 0.0f, 0.0f, 0.0f) else arr)
      }
      val df = rows.toDF("vec_id", "embedding")
      val kept = Clustering.semdedup(df, "vec_id", "embedding", k = 2,
        iters = 2, dim = 4, threshold = thr, maxPairSide = cap)
        .as[(Long, Long)].collect().toMap
      // replay: the engine's own (already-pinned) clustering, then the
      // capped prune rule re-derived in memory
      val clusters = Clustering.kmeans(df, "vec_id", "embedding", 2, 2, 4)
        .as[(Long, Long)].collect().toMap
      val byId = rows.map(r => r._1 -> norm(r._2)).toMap
      val nsubOf = clusters.groupBy(_._2).view
        .mapValues(m => math.ceil(m.size / cap.toDouble).toLong).toMap
      assert(nsubOf.values.exists(_ > 1), s"seed=$seed: cap never split")
      val ids = clusters.keys.toSeq.sorted
      val dominated = (for {
        a <- ids; b <- ids
        if a < b && clusters(a) == clusters(b)
        n = nsubOf(clusters(a))
        if md5sub(a, n) == md5sub(b, n)
        if rdot(byId(a), byId(b)) >= thr
      } yield b).toSet
      val expect = clusters.filter { case (id, _) => !dominated(id) }
      assert(kept == expect, s"seed=$seed")
      // the cap only ever KEEPS more: capped kept ⊇ uncapped kept
      val uncapped = Clustering.semdedup(df, "vec_id", "embedding", k = 2,
        iters = 2, dim = 4, threshold = thr, maxPairSide = 1000000)
        .as[(Long, Long)].collect().toMap
      assert(uncapped.keySet.subsetOf(kept.keySet), s"seed=$seed")
    }
  }

  test("kCore at enough rounds equals the in-memory run-to-fixpoint " +
    "peel on random graphs") {
    import graft.operators.Graph
    val graphGen = for {
      n <- Gen.chooseNum(4, 12)
      pairs = (0 until n).flatMap(a => (a + 1 until n).map(b => (a.toLong, b.toLong)))
      mask <- Gen.listOfN(pairs.length, Gen.prob(0.3))
    } yield (n, pairs.zip(mask).filter(_._2).map(_._1))
    def refCore(es: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
      var edges = es.toSet
      var changed = true
      while (changed) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= k).keySet
        val ne = edges.filter(e => keep(e._1) && keep(e._2))
        changed = ne != edges
        edges = ne
      }
      edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).filter(_._2 >= k).toMap
    }
    (1 to 5).foreach { seed =>
      val (n, es) = sample(graphGen, seed)
      val nodes = (0L until n.toLong).toDF("id")
      val ue = (if (es.isEmpty) Seq((-1L, -2L)) else es)
        .toDF("id_a", "id_b")
        .filter(col("id_a") >= 0)
      for (k <- Seq(2, 3)) {
        val got = Graph.kCore(nodes, ue, "id", k, rounds = 12)
          .collect().filter(_.getBoolean(1))
          .map(r => r.getLong(0) -> r.getLong(2)).toMap
        assert(got == refCore(es, k), s"seed=$seed k=$k edges=$es")
      }
    }
  }

  test("hammingWord is the reversed signBucketRotated string read as " +
    "binary — one sign family, two encodings") {
    import graft.llm.Similarity
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-100, 100)
      .map(_.toFloat / 7.0f))
    (1 to 5).foreach { seed =>
      val v = sample(vecGen, seed).toArray
      val df = Seq((1L, v)).toDF("id", "vec")
      val (word, s) = df.select(
        Similarity.hammingWord(col("vec"), dim = 16, bits = 20),
        graft.llm.IvfIndex.Signs(20, 16).home(col("vec")))
        .as[(Long, String)].collect().head
      assert(word == java.lang.Long.parseLong(s.reverse, 2),
        s"seed=$seed word=$word bucket=$s")
    }
  }

  test("tokenEntropy equals the in-memory formula on random docs") {
    import graft.llm.TextAnalysis
    val docGen = Gen.listOfN(5, for {
      len <- Gen.chooseNum(1, 40)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "dd", "e"))
    } yield ws.mkString(" "))
    def r(x: Double, dp: Int): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(dp, java.math.RoundingMode.HALF_UP)).toDouble
    (1 to 5).foreach { seed =>
      val docs = sample(docGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = TextAnalysis
        .tokenEntropy(docs.toDF("doc_id", "text"), "text", "doc_id")
        .collect()
        .map(x => x.getLong(0) ->
          ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
      docs.foreach { case (id, text) =>
        val cs = text.split("\\s+").groupBy(identity).values.map(_.length)
        val n = cs.sum.toDouble
        // mirror the engine exactly: 9-dp-fixed terms summed as EXACT
        // decimals (a double accumulator would re-round differently)
        val s = cs.map(c => java.math.BigDecimal
            .valueOf(c * math.log(c.toDouble))
            .setScale(9, java.math.RoundingMode.HALF_UP))
          .reduce(_.add(_)).doubleValue
        val h = r(math.log(n) - s / n, 6)
        assert(got(id)._1 == cs.sum.toLong && got(id)._2 == cs.size.toLong)
        assert(got(id)._3 == h, s"seed=$seed doc=$id")
      }
    }
  }

  test("kCenterGreedy pick sequence equals the in-memory Gonzalez " +
    "reference on randomized corpora (ties, duplicates included)") {
    import graft.llm.Clustering
    val dim = 4
    // small integer half-grid components force exact sim ties and
    // duplicate vectors — the adversarial cases for the argmin ordering
    val corpusGen = for {
      n <- Gen.chooseNum(3, 18)
      vs <- Gen.listOfN(n, Gen.listOfN(dim,
        Gen.chooseNum(-4, 4).map(_.toFloat / 2.0f)))
    } yield vs.zipWithIndex.map { case (v, i) =>
      val a = v.toArray
      if (a.forall(_ == 0.0f)) a(0) = 1.0f // zero vector has no direction
      (i.toLong, a)
    }
    // mirrors the engine bit-for-bit: L2Normalize's x/√(Σx²) sequential
    // fold, DotProduct's left-fold, round-HALF_UP to 6 dp before every
    // comparison (the decimal(9,6) msim), argmin on (msim, id)
    def round6(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP))
    def refKCenter(vecs: Seq[(Long, Array[Float])], k: Int)
        : Seq[(Long, Long)] = {
      val nv = vecs.sortBy(_._1).map { case (id, v) =>
        var ss = 0.0
        val d = v.map(_.toDouble)
        d.foreach(x => ss += x * x)
        val norm = math.sqrt(ss)
        (id, d.map(_ / norm))
      }
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val byId = nv.toMap
      val firstId = nv.head._1
      var picks = Vector((1L, firstId))
      var msim = nv.tail.map { case (id, d) =>
        id -> round6(dot(d, byId(firstId)))
      }.toMap
      for (r <- 2L to k.toLong) {
        val pick = msim.toSeq.minBy { case (id, m) => (m, id) }._1
        picks :+= ((r, pick))
        msim = (msim - pick).map { case (id, m) =>
          val s = round6(dot(byId(id), byId(pick)))
          id -> (if (s > m) s else m)
        }
      }
      picks.map { case (r, id) => (r, id) }
    }
    (1 to 5).foreach { seed =>
      val vecs = sample(corpusGen, seed)
      val k = math.min(5, vecs.length)
      val got = Clustering
        .kCenterGreedy(vecs.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      val expect = refKCenter(vecs, k)
      assert(got == expect, s"seed=$seed corpus=${vecs.map(_._2.toSeq)}")
    }
  }

  test("hamming index store serves EXACTLY the blocked scan's rows on " +
    "random corpora (write → pruned read ≡ in-memory blocking)") {
    import graft.llm.IvfIndex
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-100, 100).map(_ / 16.0f))
    val corpusGen = Gen.chooseNum(20, 60).flatMap(n =>
      Gen.listOfN(n, vecGen)).map(_.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) })
    (1 to 3).foreach { seed =>
      val vecs = sample(corpusGen, seed)
      val df = vecs.toDF("vec_id", "embedding")
      val q = df.filter(col("vec_id") < 5)
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_hamming_prop_$seed").getPath
      val ix = IvfIndex(IvfIndex.Prefix(48, 6), IvfIndex.Bits(48, 64))
      ix.write(df, "vec_id", "embedding", dir)
      val indexed = ix.probe(spark.read.parquet(dir), q, "vec_id",
          "embedding", k = 3, probes = 7)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      val blocked = ix.topK(df, q, "vec_id", "embedding", k = 3, probes = 7)
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(indexed == blocked, s"seed=$seed")
    }
  }

  test("kCore certificate on random graphs: survivors never grow, and " +
    "converged=true means one more round changes nothing") {
    import graft.operators.Graph
    val edgeGen = Gen.chooseNum(5, 40).flatMap(m =>
      Gen.listOfN(m, for {
        a <- Gen.chooseNum(1L, 15L)
        b <- Gen.chooseNum(1L, 15L)
      } yield (a, b))).map(_.filter(e => e._1 != e._2))
    (1 to 5).foreach { seed =>
      val edges = sample(edgeGen, seed)
      if (edges.nonEmpty) {
        val ue = edges.toDF("id_a", "id_b")
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id")
        (1 to 3).foreach { rounds =>
          val c = Graph.kCoreCertificate(ue, k = 2, rounds = rounds)
            .collect().head
          val (sR, sR1, pend, conv) =
            (c.getLong(0), c.getLong(1), c.getLong(2), c.getBoolean(3))
          assert(sR >= sR1, s"seed=$seed rounds=$rounds: $sR < $sR1")
          assert(conv == (pend == 0L))
          // NOTE this is deliberately NOT `conv == (sR == sR1)`: count
          // equality at R/R+1 does not certify a fixpoint (membership
          // can plateau while member↔non-member edges still peel —
          // seed 4 here is exactly such a graph, and it is why the
          // certificate tests pending_below_k instead)
          if (conv) {
            assert(sR == sR1, s"seed=$seed rounds=$rounds: certified " +
              "but survivor counts still moved")
            // the certificate's promise: the bounded result IS the core
            val at = Graph.kCore(nodes, ue, "id", k = 2, rounds)
              .collect().map(_.toSeq).sortBy(_.toString).toSeq
            val next = Graph.kCore(nodes, ue, "id", k = 2, rounds + 1)
              .collect().map(_.toSeq).sortBy(_.toString).toSeq
            assert(at == next, s"seed=$seed rounds=$rounds under-peeled " +
              "despite converged=true")
          }
        }
      }
    }
  }

  test("chunking tiles token positions exactly on random docs: full " +
    "cover, step-spaced starts, budget-bounded spans, overlap shared") {
    import graft.llm.TextAnalysis
    val gen = for {
      n <- Gen.chooseNum(1, 120)
      budget <- Gen.chooseNum(2, 20)
      overlap <- Gen.chooseNum(0, 1).flatMap(_ =>
        Gen.chooseNum(0, budget - 1))
    } yield (n, budget, overlap)
    (1 to 6).foreach { seed =>
      val (n, budget, overlap) = sample(gen, seed)
      val step = budget - overlap
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      val out = TextAnalysis.chunkDocs(Seq((1L, text)).toDF("doc_id", "text"),
          "text", "doc_id", budget, overlap)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
      assert(out.nonEmpty, s"seed=$seed n=$n")
      // starts are 0, step, 2·step, …, all < n; seg ids consecutive
      out.zipWithIndex.foreach { case ((seg, st, en, len, txt), i) =>
        assert(seg == i && st == i.toLong * step && st < n,
          s"seed=$seed chunk $i: $out")
        assert(en == math.min(st + budget, n) && len == en - st)
        assert(txt == ((st + 1) to en).map(j => s"t$j").mkString(" "))
      }
      // union of spans covers [0, n) with no gap: each next start is
      // inside or at the previous end minus overlap
      out.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 == a._2 + step && b._2 <= a._3,
          s"seed=$seed gap between ${a} and ${b}")
        case _ => ()
      }
      assert(out.last._3 == n, s"seed=$seed tail must reach n=$n: $out")
    }
  }

  test("zipf slope recovers the exponent on synthetic power-law counts") {
    import graft.llm.Corpus
    // counts ~ round(C / rank^s): the ln-ln fit over the exact ranks
    // must recover ≈ −s for a clean power law (grid effects at the tail
    // keep it approximate — band, don't pin, the slope)
    Seq(0.7, 1.0, 1.3).foreach { s =>
      val words = (1 to 60).flatMap { rank =>
        val c = math.max(1, math.round(3000.0 / math.pow(rank, s)).toInt)
        Seq.fill(c)(f"w$rank%03d")
      }
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
        .withColumn("source", lit("s0"))
      val row = Corpus.zipfSlope(df, "source", "text", topRanks = 60)
        .collect().head
      val slope = row.getDouble(2)
      assert(math.abs(slope + s) < 0.12,
        s"target=-$s fit=$slope (n_ranks=${row.getLong(1)})")
    }
  }

  test("hamming rerank recall is per-query NON-DECREASING in candK " +
    "(superset shortlist + exact rerank can only improve)") {
    import graft.llm.Similarity
    import graft.core.Tables
    val e = Tables.embeddings(spark, sf001)
      .filter(size(col("embedding")) >= 64)
    val q = e.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
      k = 5).localCheckpoint()
    val ix = graft.llm.IvfIndex(graft.llm.IvfIndex.OneCell,
      graft.llm.IvfIndex.Bits(48, 64))
    val byCk = Seq(5, 15, 40).map { ck =>
      ck -> Similarity.recallAtK(exact, ix.refine(ix.topK(e, q, "vec_id",
          "embedding", k = ck, probes = 1), e, q, "vec_id", "embedding", 5),
          k = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    byCk.sliding(2).foreach { case Seq((c1, r1), (c2, r2)) =>
      r1.keySet.foreach { qid =>
        assert(r2(qid) >= r1(qid),
          s"recall dropped for query $qid between candK=$c1 and $c2: " +
            s"${r1(qid)} -> ${r2(qid)}")
      }
    }
  }

  test("trained-IVF recall is per-query NON-DECREASING in probes and " +
    "hits 1.0 when every cell is probed") {
    // growing the probe set grows the candidate set; scoring is exact
    // cosine, so an exact-top-5 member can only ENTER the slate as p
    // rises, never leave — and at p = k(cells) the candidate set is the
    // whole corpus, so the trained leg degenerates to the brute scan
    import graft.llm.Similarity
    import graft.core.Tables
    val e = Tables.embeddings(spark, sf001)
      .filter(size(col("embedding")) === 64)
    val q = e.filter(col("vec_id") < 8)
    val ivf = graft.llm.IvfIndex(graft.llm.IvfIndex.Trained.train(e,
      "vec_id", "embedding", k = 8, iters = 2, dim = 64),
      graft.llm.IvfIndex.Flat)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
      k = 5).localCheckpoint()
    val byP = Seq(1, 3, 8).map { p =>
      p -> Similarity.recallAtK(exact,
          ivf.topK(e, q, "vec_id", "embedding", k = 5, probes = p),
          k = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    }
    byP.sliding(2).foreach { case Seq((p1, r1), (p2, r2)) =>
      r1.keySet.foreach { qid =>
        assert(r2(qid) >= r1(qid),
          s"recall dropped for query $qid between probes=$p1 and $p2: " +
            s"${r1(qid)} -> ${r2(qid)}")
      }
      case _ => ()
    }
    val full = byP.last._2
    assert(full.nonEmpty && full.values.forall(_ == 1.0),
      s"p=8 (all cells) must reproduce the exact top-5: $full")
  }

  test("silhouette matches a driver-side brute recomputation and stays " +
    "in [-1, 1] on random corpora") {
    import graft.llm.Clustering
    val vecGen = Gen.listOfN(4, Gen.chooseNum(-64, 64).map(_ / 8.0f))
    val corpusGen = Gen.chooseNum(6, 25).flatMap(n =>
      Gen.listOfN(n, vecGen)).map(_.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) })
    def qz(x: Float): Double =
      math.floor(x.toDouble * 1048576.0) / 1048576.0
    (1 to 4).foreach { seed =>
      val vecs = sample(corpusGen, seed)
      val df = vecs.toDF("vec_id", "embedding")
      val k = 3
      val out = Clustering.silhouette(df, "vec_id", "embedding",
          k = k, iters = 2, dim = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(out.size == vecs.size)
      assert(out.values.forall { case (_, s) => s >= -1.0 && s <= 1.0 },
        s"seed=$seed out of range: $out")
      // brute reference: replay Lloyd's exactly (quantized init = k
      // lowest ids, one update round), then per-point a/b distances —
      // same expression shape as the engine (c·c − 2·(w·c), sequential
      // left-fold dots)
      val w = vecs.map { case (id, v) => id -> v.map(qz) }.toMap
      def dot(x: Array[Double], y: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i) * y(i); i += 1 }; s
      }
      def dot2(a: Array[Double], c: Array[Double]): Double =
        dot(c, c) - 2.0 * dot(a, c)
      var cents = vecs.map(_._1).sorted.take(k).map(w).toIndexedSeq
      val assign0 = w.map { case (id, v) =>
        id -> cents.zipWithIndex.minBy { case (c, j) =>
          (dot2(v, c), j) }._2
      }
      cents = cents.zipWithIndex.map { case (prev, j) =>
        val members = w.filter { case (id, _) => assign0(id) == j }
        if (members.isEmpty) prev
        else {
          val n = members.size
          val arr = new Array[Double](4)
          // exact dyadic sums: order-independent
          members.values.foreach(v => (0 until 4)
            .foreach(i => arr(i) += v(i)))
          arr.map(_ / n)
        }
      }
      vecs.foreach { case (id, _) =>
        val v = w(id)
        val scores = cents.map(c => dot2(v, c))
        val cl = scores.zipWithIndex.minBy { case (s, j) => (s, j) }._2
        val ww = dot(v, v)
        val sa = math.sqrt(math.max(ww + scores(cl), 0.0))
        val sb = math.sqrt(math.max(ww + scores.zipWithIndex
          .filter(_._2 != cl).map(_._1).min, 0.0))
        val want =
          if (math.max(sa, sb) == 0.0) 0.0
          else BigDecimal((sb - sa) / math.max(sa, sb))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(out(id)._1 == cl.toLong,
          s"seed=$seed id=$id cluster ${out(id)._1} != $cl")
        assert(out(id)._2 == want,
          s"seed=$seed id=$id sil ${out(id)._2} != $want")
      }
    }
  }
}
