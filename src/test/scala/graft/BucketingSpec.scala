package graft

/** SCALE.md §3's co-location claim, demonstrated: two tables bucketed on
  * the join key join with NO Exchange on either side — the write-time
  * layout replaces the per-query shuffle, which is the 100 TB strategy
  * for the stored-inventory and enrichment-store joins. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    // the warehouse DIR outlives the in-memory catalog across JVM runs —
    // clear stale locations or the managed-table create collides
    Seq("b_facts", "b_dims").foreach(n =>
      rmTree(new java.io.File("spark-warehouse", n)))
    val facts = (1 to 1000).map(i => (i % 50, s"v$i")).toDF("key", "payload")
    val dims = (0 until 50).map(i => (i, s"d$i")).toDF("key", "attr")
    facts.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("b_facts")
    dims.write.mode("overwrite").bucketBy(8, "key").sortBy("key")
      .saveAsTable("b_dims")
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.enabled" ->
        spark.conf.get("spark.sql.adaptive.enabled"))
    // force the sort-merge path (broadcast would trivially avoid shuffles)
    // and a static plan so the Exchange assertion reads the real thing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == 1000)
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("hamming index: probe buckets arrive as PartitionFilters (pruned " +
    "listing) and results are row-identical to the un-materialized " +
    "blocked scan") {
    import graft.llm.IvfIndex
    import org.apache.spark.sql.functions.size
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_hamming_idx_spec").getPath
    val ix = IvfIndex(IvfIndex.Prefix(48, 6), IvfIndex.Bits(48, 64))
    ix.write(e, "vec_id", "embedding", dir)
    val idx = spark.read.parquet(dir)
    val out = ix.probe(idx, q, "vec_id", "embedding", k = 5, probes = 7)
    // 1. the probed-bucket IN-list lands in PartitionFilters on the
    //    index scan — unprobed bucket directories are never listed/read
    val plan = out.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("Scan parquet") || l.contains("FileScan"))
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cell"), s"no partition pruning:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"empty PartitionFilters — probe IN-list not pushed:\n$scanLine")
    // 2. fewer partition dirs read than written: the fixture's 10
    //    queries probe ≤ 70 of the occupied 6-bit buckets; verify via
    //    the pruned scan's partition count vs the store's (descending
    //    through the AQE wrapper to reach the index's file scan)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val written = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    val probed = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_hamming_idx_spec")))
      .map(_.selectedPartitions.partitionCount).headOption
    assert(probed.nonEmpty, "no FileSourceScanExec over the index found")
    assert(probed.get < written && probed.get > 0,
      s"pruning read ${probed.get} of $written partitions")
    // 3. candidate semantics unchanged: row-identical to the blocked
    //    scan over the same corpus (both universes len ≥ 64)
    val blocked = ix.topK(e.filter(size($"embedding") >= 64), q, "vec_id",
      "embedding", k = 5, probes = 7)
    val a = out.collect().map(_.toSeq).sortBy(_.toString)
    val b = blocked.collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq, "indexed ≠ blocked")
    assert(a.nonEmpty)
  }

  test("ivf index: probe cells arrive as PartitionFilters and results " +
    "are row-identical to the un-materialized ivf scan") {
    import graft.llm.{IvfIndex, Similarity}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_ivf_idx_spec").getPath
    val ivf = IvfIndex(IvfIndex.Axis(m = 4), IvfIndex.Flat)
    ivf.write(e, "vec_id", "embedding", dir)
    val out = ivf.probe(spark.read.parquet(dir), q,
      "vec_id", "embedding", k = 3, probes = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning:\n$plan")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val written = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    val probed = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_ivf_idx_spec")))
      .map(_.selectedPartitions.partitionCount).headOption
    // 10 queries × ≤2 probes cover at most the full 8-cell domain; on
    // the fixture they probe a strict subset
    assert(probed.nonEmpty && probed.get > 0 && probed.get <= written,
      s"probed=$probed written=$written")
    val base = ivf.topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
    val a = out.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = base.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b && a.nonEmpty, "indexed ≠ base ivf")
  }

  test("compactIndex bounds per-bucket file counts after streaming-style " +
    "appends and serving stays byte-identical") {
    import graft.llm.IvfIndex
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val dir = freshTmpDir("graft_compact_spec")
    val path = dir.getPath
    // base store + 3 micro-batch-style appends (each append lands one
    // file per touched cell — the stream_hamming ingest shape)
    val ix = IvfIndex(IvfIndex.Prefix(48, 6), IvfIndex.Bits(48, 64))
    ix.write(e, "vec_id", "embedding", path)
    val enc = ix.encode(e, "vec_id", "embedding")
    (1 to 3).foreach { _ =>
      enc.limit(40).coalesce(1)
        .write.mode("append").partitionBy("cell").parquet(path)
    }
    def filesPerBucket(): Map[String, Int] =
      new java.io.File(path).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.startsWith("part-"))).toMap
    val before = filesPerBucket()
    assert(before.values.exists(_ > 2),
      s"fixture failed to fragment any bucket: $before")
    // snapshot serving BEFORE compaction (store rows grew by the
    // appends — the snapshot is whatever the fragmented store serves)
    def serve(): Seq[Seq[Any]] =
      ix.probe(spark.read.parquet(path), q, "vec_id", "embedding", k = 5,
        probes = 7).collect().map(_.toSeq).sortBy(_.toString).toSeq
    val beforeRows = serve()
    val rewritten = IvfIndex.compactIndex(spark, path, "cell",
      maxFilesPerBucket = 2)
    assert(rewritten.nonEmpty, "nothing compacted")
    val after = filesPerBucket()
    // every bucket now holds ≤ 2 files; untouched buckets kept theirs
    assert(after.values.forall(_ <= 2), s"still fragmented: $after")
    before.filter(_._2 <= 2).foreach { case (b, n) =>
      assert(after(b) == n, s"untouched bucket $b rewritten")
    }
    // serving is byte-identical across the rewrite
    assert(serve() == beforeRows && beforeRows.nonEmpty)
    // idempotent: a second pass finds nothing over threshold
    assert(IvfIndex.compactIndex(spark, path, "cell", 2).isEmpty)
  }

  test("trained-ivf index: probe cells arrive as PartitionFilters, " +
    "results row-identical to the un-materialized trained scan, and " +
    "trained cells beat axis cells at equal probes") {
    import graft.llm.{IvfIndex, Similarity}
    import org.apache.spark.sql.functions.{avg, col, size}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val cents = IvfIndex.Trained.train(e, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val ivf = IvfIndex(cents, IvfIndex.Flat)
    // pid-suffixed: two concurrent test JVMs must not clobber each
    // other's store mid-read (the same hazard the query-side stores fix);
    // deleted in the finally below — pid-unique paths never get reused,
    // so leaving them would grow /tmp by one store per test JVM forever
    val dirFile = freshTmpDir("graft_ivft_idx_spec")
    val dir = dirFile.getPath
    try {
    ivf.write(e, "vec_id", "embedding", dir)
    // the sidecar round-trip: the store is SELF-DESCRIBING — a cold
    // session loads bit-equal centroids from _quantizer/ and probes
    // the partitions with the quantizer they were written under
    val loaded = IvfIndex.Trained.load(spark, dir, dim = 64).centroids
    assert(loaded.length == cents.centroids.length &&
      loaded.zip(cents.centroids).forall { case (a, b) => a.sameElements(b) },
      "sidecar centroids != trained centroids")
    val out = ivf.probe(spark.read.parquet(dir), q,
      "vec_id", "embedding", k = 3, probes = 2)
    // 1. probed cells land in PartitionFilters — unprobed cell
    //    directories are never listed or read
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"no partition pruning:\n$plan")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val written = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("cell="))
    val probed = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("graft_ivft_idx_spec")))
      .map(_.selectedPartitions.partitionCount).headOption
    assert(probed.nonEmpty && probed.get > 0 && probed.get <= written,
      s"probed=$probed written=$written")
    // 2. store semantics unchanged: row-identical to the direct
    //    trained-IVF scan over the same corpus
    val base = ivf.topK(e, q, "vec_id", "embedding", k = 3, probes = 2)
    val a = out.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val b = base.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(a == b && a.nonEmpty, "indexed ≠ direct trained ivf")
    // 3. the adoption argument: trained cells recall ≥ axis cells at
    //    EQUAL probes (p = 2) against one exact top-5 leg
    val u = e.filter(size($"embedding") === 64)
    val exact = Similarity.bruteForceTopK(u, q, "vec_id", "embedding",
      k = 5).localCheckpoint()
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx, k = 5)
        .agg(avg(col("recall"))).head.getDouble(0)
    val trained = meanRecall(ivf.topK(u, q, "vec_id",
      "embedding", k = 5, probes = 2))
    val axis = meanRecall(IvfIndex(IvfIndex.Axis(m = 4), IvfIndex.Flat)
      .topK(u, q, "vec_id", "embedding", k = 5, probes = 2))
    assert(trained >= axis,
      s"trained cells recall $trained < axis cells $axis at p=2")
    } finally rmTree(dirFile)
  }

  test("damaged or missing sidecars fail LOUDLY: inconsistent widths, " +
    "wrong-layout widths at the serving callers, and the " +
    "interrupted-write diagnosis for a sidecar-less store") {
    import graft.llm.IvfIndex
    val dirFile = freshTmpDir("graft_sidecar_damage_spec")
    val dir = dirFile.getPath
    try {
      // inconsistent CENTROID widths pass contiguity but must fail the
      // width check (they'd silently mis-score probes otherwise)
      Seq((0, Seq(0.5, 0.25)), (1, Seq(0.5, 0.25, 0.125)))
        .toDF("cell", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(dir + "/_quantizer")
      val qe = intercept[IllegalArgumentException] {
        IvfIndex.Trained.load(spark, dir, dim = 2)
      }
      assert(qe.getMessage.contains("inconsistent centroid widths"),
        qe.getMessage)
      // inconsistent CODEWORD widths in _codebooks: same contract
      Seq((0, 0, Seq(0.5, 0.25)), (0, 1, Seq(0.5)),
        (1, 0, Seq(0.25, 0.5)), (1, 1, Seq(0.125, 0.5)))
        .toDF("subspace", "code", "codeword").coalesce(1)
        .write.mode("overwrite").parquet(dir + "/_codebooks")
      val ce = intercept[IllegalArgumentException] {
        IvfIndex.ResidualPq.load(spark, dir)
      }
      assert(ce.getMessage.contains("inconsistent codeword widths"),
        ce.getMessage)
      // a UNIFORM but wrong-for-the-layout width is the serving
      // caller's check (the loader can't know dim): 2-dim centroids
      // against a dim=64 layout must refuse, naming the sidecar
      val narrow = IndexedSeq(Array(0.5, 0.25), Array(0.25, 0.5))
      val se = intercept[IllegalArgumentException] {
        IvfIndex(IvfIndex.Trained(narrow, dim = 64), IvfIndex.Flat).probe(
          spark.read.parquet(dir + "/_quantizer"), // any frame; fails first
          Seq((1L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 1, probes = 1)
      }
      assert(se.getMessage.contains("_quantizer"), se.getMessage)
      // a sidecar-LESS store reads as an interrupted write, not a bare
      // path error (the write-order crash window's documented diagnosis)
      val bare = freshTmpDir("graft_sidecar_missing_spec")
      try {
        val me = intercept[IllegalStateException] {
          IvfIndex.Trained.load(spark, bare.getPath, dim = 64)
        }
        assert(me.getMessage.contains("interrupted"), me.getMessage)
      } finally rmTree(bare)
    } finally rmTree(dirFile)
  }

  test("compressed IVF,PQ index: probe cells arrive as PartitionFilters " +
    "over the CODE store, sidecars round-trip bit-equal, and cold " +
    "serving is row-identical to the unmaterialized residual path") {
    import graft.llm.IvfIndex
    import org.apache.spark.sql.functions.{col, size}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val cents = IvfIndex.Trained.train(e, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val pq = IvfIndex.ResidualPq.train(cents, e, "vec_id", "embedding",
      m = 8, k = 16, subDim = 8, iters = 1)
    val cbs = pq.codebooks
    val dirFile = freshTmpDir("graft_ivfpq_idx_spec")
    try {
      val dir = dirFile.getPath
      IvfIndex(cents, pq).write(e, "vec_id", "embedding", dir)
      // 1. both sidecars round-trip bit-equal: the store is fully
      //    self-describing (coarse + fine quantizer)
      val loaded = IvfIndex.load(spark, dir, dim = 64,
        IvfIndex.ResidualPq.Stored)
      val lc = loaded.coarse.asInstanceOf[IvfIndex.Trained].centroids
      assert(lc.length == cents.centroids.length &&
        lc.zip(cents.centroids).forall { case (a, b) => a.sameElements(b) },
        "quantizer sidecar != trained centroids")
      val lcb = loaded.codec.asInstanceOf[IvfIndex.ResidualPq].codebooks
      assert(lcb.length == cbs.length &&
        lcb.zip(cbs).forall { case (ba, bb) =>
          ba.length == bb.length &&
            ba.zip(bb).forall { case (a, b) => a.sameElements(b) } },
        "codebook sidecar != trained codebooks")
      // 2. probed cells land in PartitionFilters over the CODE scan —
      //    the compressed store reads m ints per candidate from only
      //    the probed cell directories
      val out = loaded.probe(spark.read.parquet(dir), q,
        "vec_id", "embedding", k = 3, probes = 2)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"no partition pruning:\n$plan")
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val written = dirFile.listFiles()
        .count(_.getName.startsWith("cell="))
      val probed = scans(out.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivfpq_idx_spec")))
        .map(_.selectedPartitions.partitionCount).headOption
      assert(probed.nonEmpty && probed.get > 0 && probed.get <= written,
        s"probed=$probed written=$written")
      // 3. cold serving is row-identical to the unmaterialized residual
      //    path on the same corpus and quantizers
      val base = IvfIndex(cents, pq).topK(e, q, "vec_id", "embedding",
        k = 3, probes = 2)
      val a = out.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val b = base.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(a == b && a.nonEmpty, "indexed ≠ unmaterialized residual")
    } finally rmTree(dirFile)
  }

  test("sq8 index: probe cells arrive as PartitionFilters over the code " +
    "store, sidecar round-trips, and serving is row-identical to the " +
    "unmaterialized snapped scan") {
    import graft.llm.{IvfIndex, Similarity}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val e = graft.core.Tables.embeddings(spark, sf001)
    val q = e.filter($"vec_id" < 10)
    val cents = IvfIndex.Trained.train(e, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val dirFile = freshTmpDir("graft_ivfsq_idx_spec")
    try {
      val dir = dirFile.getPath
      IvfIndex(cents, IvfIndex.Sq8).write(e, "vec_id", "embedding", dir)
      val loaded = IvfIndex.load(spark, dir, dim = 64, IvfIndex.Sq8)
      val lc = loaded.coarse.asInstanceOf[IvfIndex.Trained].centroids
      assert(lc.zip(cents.centroids).forall { case (a, b) => a.sameElements(b) },
        "quantizer sidecar != trained centroids")
      val out = loaded.probe(spark.read.parquet(dir), q,
        "vec_id", "embedding", k = 3, probes = 2)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cell"),
        s"no partition pruning:\n$plan")
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans)
      }
      val written = dirFile.listFiles()
        .count(_.getName.startsWith("cell="))
      val probed = scans(out.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("graft_ivfsq_idx_spec")))
        .map(_.selectedPartitions.partitionCount).headOption
      assert(probed.nonEmpty && probed.get > 0 && probed.get <= written,
        s"probed=$probed written=$written")
      // dequantize(stored codes, stored scale) must score identically
      // to snap on the raw vectors (the Int8Snap property, through the
      // store round trip)
      val base = IvfIndex(cents, IvfIndex.Sq8).topK(e, q, "vec_id",
        "embedding", k = 3, probes = 2)
      val a = out.collect().map(_.toSeq).sortBy(_.toString).toSeq
      val b = base.collect().map(_.toSeq).sortBy(_.toString).toSeq
      assert(a == b && a.nonEmpty, "indexed ≠ unmaterialized sq8")
    } finally rmTree(dirFile)
  }

  test("site-partitioned store write prunes partitions on the site filter") {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_part_store").getPath
    graft.core.Tables.resources(spark, sf001)
      .write.mode("overwrite").partitionBy("resource_site").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter($"resource_site" === "NATION_3")
      .select("resource_id")
    val scan = q.queryExecution.executedPlan.toString
    // the site predicate becomes a PartitionFilters entry — only that
    // site's directory is listed/read (S1's Redis key-prefix narrowing,
    // done by layout instead of key encoding)
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.contains("resource_site"), scan)
    assert(q.count() > 0)
  }
}
