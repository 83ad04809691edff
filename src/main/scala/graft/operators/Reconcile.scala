package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-reconciliation of entity inventories — reference
  * `resources/manager.py:46-142`.
  *
  * Given the currently-stored set and an incoming set (same plugin/site
  * scope), produce a change feed:
  *  - deletes = stored ∖ incoming (`manager.py:74-94`)
  *  - adds    = incoming ∖ stored (`:96-107`)
  *  - updates = stored ∩ incoming (`:109-135`)
  * where deletes/updates are SKIPPED when the stored row's timestamp is
  * newer than the incoming set's timestamp (conflict resolution: a fresher
  * discovery already wrote it).
  *
  * Scale: the three-way classification is ONE full-outer join — each side
  * shuffles exactly once on the identity key (the naive adds/deletes/
  * updates formulation is three joins and re-scans both inputs three
  * times); at 100 TB the stored side is a bucketed/partitioned table so
  * the shuffle is one-sided. The output is a MERGE-shaped change feed
  * (apply with Delta `MERGE` or an overwrite-by-partition).
  */
object Reconcile {

  /** The action of one joined key, shared by [[changes]] and [[applied]]:
    * incoming-only → add; stored-only → delete, guarded by the incoming
    * SNAPSHOT's timestamp (`manager.py:83-87`); both → update, guarded by
    * the incoming row's timestamp. A guard that does not hold — including
    * a NULL stored timestamp, which is not provably older — yields NULL:
    * no action, the stored row stays. */
  private def action(stAbsent: Column, incAbsent: Column, stTs: Column,
                     incTs: Column, incomingSetTs: Double): Column =
    when(stAbsent, lit("add"))
      .when(incAbsent, when(stTs <= lit(incomingSetTs), lit("delete")))
      .otherwise(when(stTs <= incTs, lit("update")))

  /** @param stored     current inventory
    * @param incoming   newly discovered inventory
    * @param identityCols identity key columns (both sides)
    * @param storedTsCol  timestamp column on `stored`
    * @param incomingSetTs the incoming SET's creation timestamp (epoch s) —
    *                     guards DELETES only (`manager.py:83-87`)
    * @param incomingTsCol per-row timestamp column on `incoming` — guards
    *                     UPDATES: the reference compares the stored row's
    *                     timestamp against the incoming RESOURCE's own
    *                     `resource_creation_timestamp` (`manager.py:121-135`),
    *                     not the set timestamp. None falls back to the set
    *                     timestamp (for incoming feeds without per-row ts).
    * @return stored/incoming columns for the key + an `action` column in
    *         {add, delete, update}
    */
  def changes(
      stored: DataFrame,
      incoming: DataFrame,
      identityCols: Seq[String],
      storedTsCol: String,
      incomingSetTs: Double,
      incomingTsCol: Option[String] = None): DataFrame = {
    val key = identityCols

    // incoming is a SET in the reference (identity-deduped on build) —
    // collapse repeated keys here so a raw feed emits one add/update per
    // key; the update guard compares against the newest incoming row's
    // own creation timestamp (`manager.py:121-135`), or the SET timestamp
    // for feeds without a per-row timestamp
    val incKeys = (incomingTsCol match {
      case Some(tsCol) =>
        incoming.groupBy(key.map(col): _*).agg(max(col(tsCol)).as("__inc_ts"))
      case None =>
        incoming.select(key.map(col): _*).distinct()
          .withColumn("__inc_ts", lit(incomingSetTs))
    }).withColumn("__inc", lit(true))

    // presence flags rather than timestamp-null tests: a legitimately NULL
    // stored timestamp must not reclassify the row as an add
    val st = stored
      .select(key.map(col) :+ col(storedTsCol).as("__st_ts"): _*)
      .withColumn("__st", lit(true))

    // one full-outer join classifies all three actions; guard-skipped
    // rows yield NULL and drop
    st.join(incKeys, key, "full_outer")
      .select(key.map(col) :+
        action(col("__st").isNull, col("__inc").isNull, col("__st_ts"),
          col("__inc_ts"), incomingSetTs).as("action"): _*)
      .filter(col("action").isNotNull)
  }

  /** APPLY the change feed: the post-MERGE inventory, as a frame — the
    * reference's store write (`resources/manager.py:136-142`) expressed
    * engine-agnostically. Rows land by [[changes]] semantics:
    *
    *  - `delete` keys drop; guard-skipped deletes keep the stored row;
    *  - `add` and `update` keys take the INCOMING row (duplicate incoming
    *    keys collapse to the newest per `incomingTsCol`, like the
    *    reference's key→resource dict);
    *  - guard-skipped updates keep the stored row.
    *
    * `stored` and `incoming` must share the schema. On a real deployment
    * this frame is the `WHEN MATCHED/NOT MATCHED` source of a Delta/Iceberg
    * MERGE or a dynamic-partition overwrite; producing the full post state
    * keeps the operator testable on plain parquet — write it back with
    * `partitionOverwriteMode=dynamic` and only partitions containing
    * changed keys rewrite.
    *
    * `stored` is a keyed inventory — identity keys are unique (the
    * reference store is a key→resource dict).
    *
    * Scale: ONE full-outer join on the identity key decides every row's
    * fate (the change-feed-then-apply formulation costs three more key
    * joins); the incoming-side window that collapses duplicate feed keys
    * partitions on the same key, so its exchange feeds the join directly.
    */
  def applied(
      stored: DataFrame,
      incoming: DataFrame,
      identityCols: Seq[String],
      storedTsCol: String,
      incomingSetTs: Double,
      incomingTsCol: Option[String] = None): DataFrame = {
    val key = identityCols
    // content-hash tiebreak: duplicate keys tied on the timestamp (or the
    // None branch with no timestamp at all) must still collapse to the
    // SAME row on every run/partitioning — dropDuplicates and an
    // untiebroken row_number are both partition-order-dependent. Identical
    // rows hash identically (either is fine); distinct payloads order by
    // hash, deterministically. xxhash64 rejects MapType (a map has no
    // canonical order), so a map column — the resource_metadata map —
    // hashes as its key-sorted entry array: deterministic, and
    // independent of the map's insertion order.
    import org.apache.spark.sql.expressions.Window
    val contentHash = xxhash64(incoming.schema.fields.map(f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }): _*)
    val incOrder = incomingTsCol match {
      case Some(ts) => Seq(col(ts).desc, contentHash)
      case None     => Seq(contentHash)
    }
    val incUnique = incoming.withColumn("__rn", row_number().over(
      Window.partitionBy(key.map(col): _*).orderBy(incOrder: _*)))
      .filter(col("__rn") === 1).drop("__rn")

    // pack each side's payload into a struct (aligned by stored's column
    // order — the shared-schema requirement) so one full-outer join can
    // pick the surviving row per key: a NULL struct marks an absent side.
    val cols = stored.columns
    val stS = stored
      .select(key.map(col) :+ struct(cols.map(col): _*).as("__srow"): _*)
    val incS = incUnique
      .select(key.map(col) :+ struct(cols.map(col): _*).as("__irow"): _*)
    val stTs = col("__srow").getField(storedTsCol)
    val incTs = incomingTsCol match {
      case Some(ts) => col("__irow").getField(ts)
      case None     => lit(incomingSetTs)
    }
    // the action is projected once, then picks the surviving row
    val keep =
      when(col("__act").isNull, col("__srow")) // no action: stored stays
        .when(col("__act") =!= lit("delete"), col("__irow")) // add/update
    stS.join(incS, key, "full_outer")
      .select(col("__srow"), col("__irow"), action(col("__srow").isNull,
        col("__irow").isNull, stTs, incTs, incomingSetTs).as("__act"))
      .select(keep.as("__row"))
      .filter(col("__row").isNotNull)
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** CONTENT-hash snapshot diff — [[changes]]' sibling for corpus
    * versioning, where there are no per-row timestamps to arbitrate and
    * the question is simply "what changed between snapshot A and B":
    * every id classifies as `added` (only in new), `removed` (only in
    * old), `changed` (both, different content hash), or `unchanged`. The
    * ingestion-delta feed every incremental pipeline stage keys off —
    * re-embed/re-score only `added ∪ changed`, tombstone `removed`.
    *
    * Scale shape: hashes are computed map-side (the content column never
    * rides the shuffle), then ONE full-outer join on the id — each
    * snapshot shuffles exactly once, the floor for any id-keyed diff; at
    * 100 TB with both snapshots bucketed by id it is shuffle-free. */
  def contentDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                  contentCol: String): DataFrame = {
    // presence flags, NOT hash nullness: md5(NULL) is NULL, so a row
    // PRESENT with null content would otherwise masquerade as absent
    // (classifying a no-content row in both snapshots as "added")
    val o = oldDf.select(col(idCol), md5(col(contentCol)).as("old_hash"),
      lit(true).as("__in_old"))
    val n = newDf.select(col(idCol), md5(col(contentCol)).as("new_hash"),
      lit(true).as("__in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          // null-safe: two null-content rows are the same (no content)
          .when(col("old_hash") <=> col("new_hash"), lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("__in_old", "__in_new")
  }
}
