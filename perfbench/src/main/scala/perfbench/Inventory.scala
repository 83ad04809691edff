package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Resource, Schemas}
import graft.dsl.ResourceFilter
import graft.streaming.Pipelines

/** Closed loop, one client, over a resource inventory stored as parquet
  * versions. About nine operations in ten are resource-filter reads
  * (parse, filter, collect); the rest are discovery-snapshot writes:
  * `Pipelines.reconcileBatch` over one plugin's scope at one site, then a
  * caller-side apply that writes the next inventory version, which later
  * reads use. The apply is the benchmark's own because `Reconcile.applied`
  * cannot hash the `resource_metadata` map.
  */
final class InventoryMixed(spark: SparkSession, seed: Long, workDir: Path) extends Workload {
  import InventoryMixed._

  private implicit val enc: org.apache.spark.sql.Encoder[Resource] = Encoders.product[Resource]
  private val gen = new InventoryGen(seed)
  private val dir = workDir.resolve("inventory")
  private var version = 0
  private var model: Seq[Resource] = Nil
  private var ids = 0L
  private var ops = 0L
  private var writes = 0

  private def path(v: Int) = dir.resolve(s"v$v").toString

  def setup(): Unit = {
    Main.deleteRecursively(dir)
    version = 0
    model = gen.initial(Resources)
    ids = Resources.toLong
    spark.createDataset(model).write.parquet(path(0))
    spark.read.parquet(path(0)).filter(ResourceFilter.parse(gen.query(-1).render))
      .as[Resource].collect()
  }

  private var parseNs = 0L
  private var parses = 0
  private var returned = 0L
  private val readOps = scala.collection.mutable.ArrayBuffer.empty[String]
  private var reconcileMs = 0.0
  private var changed = 0L
  private var writeBytes = 0L
  private var nWrites = 0

  def run(seconds: Double, rec: Recorder, tracer: Tracer): Layers = {
    // untimed, checked operations first: reads keep getting faster for
    // about the first twenty operations of a JVM (JIT and codegen warm-up)
    val warm = new Recorder
    for (i <- 0 until WarmupOps)
      if (i % WriteEvery == WriteEvery - 1) write(warm, new Tracer(false)) else read(warm, new Tracer(false))
    rec.absorb(warm)
    parseNs = 0L; parses = 0; returned = 0L; readOps.clear()
    reconcileMs = 0.0; changed = 0L; writeBytes = 0L; nWrites = 0
    var spent = 0.0
    val walls = scala.collection.mutable.Map.empty[String, Double]
    var i = 0
    while (spent < seconds) {
      val t0 = System.nanoTime()
      val opId = if (i % WriteEvery == WriteEvery - 1) write(rec, tracer) else read(rec, tracer)
      val wallMs = (System.nanoTime() - t0) / 1e6
      walls(opId) = wallMs
      spent += wallMs / 1000
      i += 1
    }
    rec.rate(rec.timings("read").size + rec.timings("write").size, spent)

    val scanned = tracer.tasks.tasksOf(readOps.toSet).map(_.recordsRead).sum
    Layers(Map(
      "dsl.parse_us" -> (if (parses > 0) parseNs / 1e3 / parses else 0.0),
      "core.rows_scanned_per_row_returned" -> (if (returned > 0) scanned.toDouble / returned else 0.0),
      "operators.reconcile_exec_ms" -> (if (nWrites > 0) reconcileMs / nWrites else 0.0),
      "operators.reconcile_changed_rows" -> (if (nWrites > 0) changed.toDouble / nWrites else 0.0),
      "core.inventory_write_bytes" -> (if (nWrites > 0) writeBytes.toDouble / nWrites else 0.0)),
      walls.toMap)
  }

  /** One discovery-snapshot write; returns its operation id. */
  private def write(rec: Recorder, tracer: Tracer): String = {
    val opId = s"op$ops"
    ops += 1
    val w = writes
    writes += 1
    val setTs = InventoryGen.Base + 1e8 + w * 60.0
    val incoming = gen.snapshot(w, model, setTs, () => { ids += 1; ids })
    val (site, plugin) = gen.scopes(w % gen.scopes.size)
    val inScope = (r: Resource) => r.resource_site == site && r.resource_plugin.contains(plugin)
    val expected = ReconcileRef.changes(model.filter(inScope), incoming, setTs)
    val next = version + 1
    rec.op("write", s"reconcile#$w") {
      tracer.op(spark, opId, "bench.write") {
        var feed: Array[(ReconcileRef.Key, String)] = Array.empty
        val stored = spark.read.parquet(path(version))
        val inc = spark.createDataset(incoming).toDF()
        tracer.span("streaming.Pipelines.reconcileBatch") {
          Pipelines.reconcileBatch(
            stored.filter(col("resource_site") === site && col("resource_plugin") === plugin),
            inc, Schemas.resourceIdentityCols, "resource_creation_timestamp", setTs,
            Some("resource_creation_timestamp"), applyChanges = changes => {
              val c0 = System.nanoTime()
              feed = tracer.span("operators.Reconcile.changes") {
                changes.collect().map(r => ((r.getString(0), r.getString(1), r.getString(2),
                  r.getString(3), r.getString(4)), r.getString(5)))
              }
              reconcileMs += (System.nanoTime() - c0) / 1e6
              tracer.span("core.inventory_write") {
                val keys = Schemas.resourceIdentityCols
                val changedKeys = spark.createDataFrame(feed.toSeq.map(_._1)).toDF(keys: _*)
                val upserts = spark.createDataFrame(feed.toSeq.collect {
                  case (k, "add" | "update") => k
                }).toDF(keys: _*)
                stored.join(changedKeys, keys, "left_anti")
                  .unionByName(inc.join(upserts, keys, "left_semi"))
                  .write.parquet(path(next))
              }
            })
        }
        feed
      }
    } { feed =>
      val got = feed.toMap
      if (got.size != feed.length || got != expected)
        Some(s"change feed differs from the reference rules (${feed.length} vs ${expected.size} rows)")
      else {
        model = ReconcileRef.apply(model, incoming, expected)
        val n = spark.read.parquet(path(next)).count()
        if (n != model.size) Some(s"version $next holds $n rows, expected ${model.size}") else None
      }
    } match {
      case Some(feed) =>
        version = next
        changed += feed.length
        writeBytes += Files.walk(dir.resolve(s"v$next")).iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
        nWrites += 1
        Main.deleteRecursively(dir.resolve(s"v${next - 2}"))
      case None =>
        // an unverified version is dropped; reads stay on the last good one
        Main.deleteRecursively(dir.resolve(s"v$next"))
    }
    opId
  }

  /** One resource-filter read; returns its operation id. */
  private def read(rec: Recorder, tracer: Tracer): String = {
    val opId = s"op$ops"
    val q = gen.query(ops)
    ops += 1
    rec.op("read", s"filter#$opId") {
      tracer.op(spark, opId, "bench.read") {
        val p0 = System.nanoTime()
        val pred = tracer.span("dsl.ResourceFilter.parse")(ResourceFilter.parse(q.render))
        parseNs += System.nanoTime() - p0
        parses += 1
        tracer.span("spark.collect")(
          spark.read.parquet(path(version)).filter(pred).as[Resource].collect())
      }
    } { rows =>
      val want = model.filter(DslRef.matches(_, q)).sortBy(_.resource_id)
      val got = rows.toSeq.sortBy(_.resource_id)
      if (got != want) Some(s"${got.size} rows, reference ${want.size} for: ${q.render}") else None
    }.foreach { rows =>
      returned += rows.length
      readOps += opId
    }
    opId
  }
}

object InventoryMixed {
  val Resources = 15000
  /** Every tenth operation writes: a fixed mix, so a run's operation
    * rate does not depend on how many writes its seed happened to draw. */
  val WriteEvery = 10
  val WarmupOps = 20
}
