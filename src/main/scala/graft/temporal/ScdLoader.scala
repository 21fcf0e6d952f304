package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** SCD Type-4 maintenance: current table + full-history table + CDC log
  * (SURVEY.md T1–T5/W3; reference loaders/temporal_loader.py:53-462).
  *
  * [[applyScd]] and the other transforms are pure DataFrame → DataFrame
  * semantics, storage-agnostic (plain parquet overwrite at reference
  * scale; key-bucketed MERGE at 100 TB — the join keys are already the
  * bucket keys). [[loadSnapshot]] is the one storage step that applies a
  * snapshot to a plain-parquet state table; the batch loader and the
  * streaming SCD sink both write through it.
  */
object ScdLoader {

  /** Result of one SCD load step. */
  final case class ScdResult(current: DataFrame, historyAppend: DataFrame,
      changes: DataFrame)

  /** Apply one incoming snapshot to current state.
    *
    *  - new rows       -> inserted as current (valid_from = loadTs)
    *  - updated rows   -> old version appended to history with
    *                      valid_to = loadTs (T2); new version is current
    *  - unchanged rows -> carried over untouched (idempotence: re-loading
    *                      the same snapshot MUST produce zero changes —
    *                      the reference's #1 invariant,
    *                      docs/TESTING_QUICK_REFERENCE.md:17-35)
    *  - missing rows   -> soft delete (T3): snapshot to history, then
    *                      is_deleted = true, is_current = false
    *
    * Both inputs carry the 5 SCD columns; `incoming` is a fresh transform
    * output (is_current = true, is_deleted = false, valid_to = null).
    *
    * Plan shape: ONE full-outer join on the entity key over struct-packed
    * rows; history, new current, and the change log are all projections of
    * that single joined frame. (The previous shape — a classify join plus
    * two re-joins of the classification back onto each side — shuffled
    * three times AND re-shuffled even over bucketed inputs, because a
    * full-outer join's output partitioning is unknown to the planner.
    * With both inputs bucketed on `hubspot_id`, this single join plans
    * with NO Exchange at all — the 100 TB merge shape, once a writer owns
    * a bucketed file layout; BucketingSpec pins that plan shape.)
    */
  def applyScd(current: DataFrame, incoming: DataFrame, loadTs: Column): ScdResult = {
    val cols = incoming.columns.toSeq
    val cur = current.select(col("hubspot_id").as("cur_key"),
      struct(cols.map(col): _*).as("cur"))
    val inc = incoming.select(col("hubspot_id").as("inc_key"),
      struct(cols.map(col): _*).as("inc"))
    val joined = cur.join(inc, col("cur_key") === col("inc_key"), "full_outer")
      .withColumn("change_type", ChangeDetector.changeType(
        col("cur_key"), col("inc_key"),
        coalesce(col("cur.is_deleted"), lit(false)),
        col("cur.snapshot_hash"), col("inc.snapshot_hash")))
    def unpack(side: String) = cols.map(c => col(s"$side.$c").as(c))

    // History gains the superseded version of updated/resurrected rows and
    // a terminal snapshot of freshly deleted rows.
    val historyAppend = joined
      .filter(col("change_type").isin("updated", "resurrected", "deleted"))
      .select(unpack("cur"): _*)
      .withColumn("valid_to", loadTs)
      .withColumn("is_current", lit(false))

    // New current state.
    val carried = joined
      .filter(col("change_type").isin("unchanged", "already_deleted"))
      .select(unpack("cur"): _*)
    val replaced = joined
      .filter(col("change_type").isin("new", "updated", "resurrected"))
      .select(unpack("inc"): _*)
      .withColumn("valid_from", loadTs)
    val softDeleted = joined.filter(col("change_type") === "deleted")
      .select(unpack("cur"): _*)
      .withColumn("is_deleted", lit(true))
      .withColumn("is_current", lit(false))
      .withColumn("valid_to", loadTs)

    val newCurrent = carried.unionByName(replaced).unionByName(softDeleted)
    val changes = joined.select(
      coalesce(col("inc_key"), col("cur_key")).as("hubspot_id"),
      col("change_type"))
    ScdResult(newCurrent, historyAppend, changes)
  }

  /** Apply one snapshot to one plain-parquet state table: the current
    * table at `currentPath`, replaced through [[AtomicSwap]], and its
    * append-only history at `historyPath`. Returns the snapshot's row
    * count. `loadTs` is one driver-side instant per load, so a superseded
    * version's `valid_to` equals its successor's `valid_from`.
    *
    * Recovery comes first: if a prior load crashed mid-swap, the current
    * table would otherwise be read from `.next` in place, which the merge
    * then overwrites while its plan lazily reads it. First load is decided
    * by an explicit existence check, not by catching a read failure: a
    * corrupt footer must fail loudly here, because treating it as a first
    * load would mark every row as new. The history append always writes,
    * so a load that supersedes nothing lands one schema-only file.
    */
  def loadSnapshot(incoming: DataFrame, currentPath: String, historyPath: String,
      loadTs: java.sql.Timestamp): Long = {
    val spark = incoming.sparkSession
    AtomicSwap.recover(spark, currentPath)
    val in = incoming.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = in.count()
      val p = new org.apache.hadoop.fs.Path(currentPath)
      val current =
        if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          graft.Graft.parquet(spark, currentPath)
        else in.limit(0)
      val r = applyScd(current, in, lit(loadTs))
      r.current.write.mode("overwrite").parquet(s"$currentPath.next")
      r.historyAppend.write.mode("append").parquet(historyPath)
      AtomicSwap.swapIn(spark, currentPath)
      n
    } finally { in.unpersist(); () }
  }

  /** HAS_HISTORY edge rows linking each current entity to the history
    * versions superseded this load (temporal_loader.py:176-183: the
    * reference CREATEs `(n)-[:HAS_HISTORY]->(h)` per snapshot). History
    * rows have no surrogate id of their own, so the edge target is the
    * natural version key `<hubspot_id>@<valid_to>` — a cheap projection of
    * [[ScdResult.historyAppend]], no extra shuffle. */
  def hasHistoryEdges(historyAppend: DataFrame): DataFrame =
    historyAppend.select(
      col("hubspot_id").as("src_id"),
      concat(col("hubspot_id"), lit("@"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")).as("dst_id"),
      lit("HAS_HISTORY").as("rel_type"),
      col("valid_to").as("superseded_at"))

  /** Relationship CDC: diff trackable edges and produce
    * HUBSPOT_RelationshipChange rows (T4; temporal_loader.py:401-462).
    *
    * ENRICHES what the reference actually persists: its change dicts
    * carry only from_id/type/to_id (temporal_loader.py:401-462), so the
    * Cypher CREATE's `relationship_properties: change.properties` (and
    * from_type/to_type) resolve to null on every change row. Here a
    * removed edge carries the props it had in the PREVIOUS set, an added
    * edge the incoming ones — a strict improvement, not reference parity. Inputs without a `props` column (tests, minimal
    * edge feeds) get a null map. The attach is one groupBy + one left
    * join on the 5-part key — the diff already shuffled on that key, so
    * the exchange is reused where bucketing allows. */
  def edgeChanges(existing: DataFrame, incoming: DataFrame, loadTs: Column): DataFrame = {
    val key = Seq("rel_type", "src_type", "src_id", "dst_type", "dst_id")
    val base = ChangeDetector.diffEdges(existing, incoming)
    val withProps =
      if (!existing.columns.contains("props") || !incoming.columns.contains("props"))
        base.withColumn("props", lit(null).cast("map<string,string>"))
      else {
        // side-tagged props: removed rows resolve against the previous
        // set, added rows against the incoming one
        val sideProps = existing.select(key.map(col) :+ lit("removed").as("change_type")
            :+ col("props").as("__props"): _*)
          .unionByName(incoming.select(key.map(col) :+ lit("added").as("change_type")
            :+ col("props").as("__props"): _*))
          .groupBy((key :+ "change_type").map(col): _*)
          .agg(first("__props", ignoreNulls = true).as("__props"))
          .withColumnRenamed("change_type", "__ct")
        val keyed = key.map(k => base(k) <=> sideProps(k)).reduce(_ && _) &&
          base("change_type") === sideProps("__ct")
        base.join(sideProps, keyed, "left")
          .select(base.columns.map(base(_)) :+ sideProps("__props").as("props"): _*)
      }
    withProps.select(col("change_type"),
      col("src_type").as("from_entity_type"), col("src_id").as("from_entity_id"),
      col("dst_type").as("to_entity_type"), col("dst_id").as("to_entity_id"),
      col("rel_type").as("relationship_type"),
      col("props").as("relationship_properties"),
      loadTs.as("changed_at"))
  }

  /** W3 — rebuild SCD2-style validity intervals for a full history table
    * in one batch: valid_to = lead(valid_from) per entity (the canonical
    * windowed backfill; scripts/initialize_temporal_data.py:40-202). */
  def rebuildIntervals(history: DataFrame): DataFrame = {
    val w = Window.partitionBy("hubspot_id").orderBy(col("valid_from").asc)
    history
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
