package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Distributed replay of a parquet table through the FILE streaming
  * source — the one replay harness of the streaming rows.
  *
  * Feeding a MemoryStream pulls every row to the driver
  * (`toLocalIterator` → `addData`): for whole-table replays the driver
  * serialization becomes the job — the sf1 rehearsal measured the
  * 10⁶-event window queries at 17–125 s that way, nearly all of it the
  * driver round-trip and the blocks it pins in driver memory. Here the
  * table is SYMLINKED into a fresh temp directory and
  * `readStream.parquet(dir)` ingests it — the micro-batch reads the
  * parquet DISTRIBUTED, exactly like the batch scan, with the driver
  * handling only file listing.
  *
  * One or two batches:
  *   1. the symlinked table — everything in one micro-batch (the
  *      watermark is still initial, so nothing emits early and arrival
  *      order inside the batch cannot matter);
  *   2. optionally, a one-row SENTINEL file written into the directory
  *      afterwards — its far-future event time advances the watermark
  *      past every real window, flushing append-mode state
  *      deterministically.
  * Callers filter the sentinel marker row out of the sink table.
  *
  * This is also the more production-shaped harness: file-arrival
  * micro-batching is how Structured Streaming actually tails a
  * lakehouse ingest directory at 100 TB.
  */
object FileReplay {
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay `parquetFile` through the file source into an in-memory sink
    * named `queryPrefix` plus a unique suffix, and return the sink table.
    *
    * `transform` builds the streaming query from `source`, which opens a
    * NEW file-source stream over the replayed table on each call: call it
    * once for a plain transform, twice for a stream-stream join (each
    * side filters its own slice; both are complete in the first
    * micro-batch, so an inner interval join emits every match).
    *
    * Without a `sentinel` the whole table is ONE micro-batch — right for
    * stateless transforms, where every output row emits in it. With one
    * (ONE raw-schema row carrying a far-future event time and a marker
    * the caller filters out), it is written as a second batch that
    * advances the watermark past every real window, flushing append-mode
    * state deterministically. */
  def replay(ss: SparkSession, parquetFile: String, queryPrefix: String,
             sentinel: Option[DataFrame] = None)(
      transform: (() => DataFrame) => DataFrame): DataFrame = {
    val queryName = s"${queryPrefix}_${seq.incrementAndGet()}"
    val dir = Files.createTempDirectory("graft_replay_")
    try {
      Files.createSymbolicLink(dir.resolve("batch0.parquet"),
        Paths.get(parquetFile).toAbsolutePath)
      val schema = ss.read.parquet(parquetFile).schema
      val q = transform(() => ss.readStream.schema(schema).parquet(dir.toString))
        .writeStream.format("memory")
        .queryName(queryName).outputMode("append").start()
      try {
        q.processAllAvailable()
        // the sentinel must be a NEW file for the source to see a second
        // batch; one row → one part file (plus _-prefixed bookkeeping
        // files the source ignores)
        sentinel.foreach { row =>
          row.coalesce(1).write.mode("append").parquet(dir.toString)
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally {
      // the sink table is in memory; nothing reads the replay dir after
      // stop(), so reclaim it — also when the transform or start() throws
      // (repeated bench runs would otherwise pile up one dir per
      // streaming query per run)
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    }
    ss.table(queryName)
  }
}
