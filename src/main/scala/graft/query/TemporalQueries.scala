package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal/audit analytics over the SCD tables (SURVEY.md §3.3/T8;
  * reference query_temporal.py:31-325). The reference issues 16 sequential
  * Bolt round trips for its statistics view — here each view is one job.
  */
object TemporalQueries {

  /** Current-state filter every "as-of-now" query shares
    * (query_temporal.py:34-36). */
  def currentOnly(nodes: DataFrame): DataFrame = answer(current(nodes))

  private def current(nodes: DataFrame): DataFrame =
    nodes.filter(col("is_current") &&
      (col("is_deleted").isNull || !col("is_deleted")))

  /** Current entities, most recently loaded first (query_temporal.py:31-48). */
  def currentEntities(nodes: DataFrame, limit: Int): DataFrame = answer {
    current(nodes).orderBy(desc("valid_from"), col("hubspot_id")).limit(limit)
  }

  /** Soft-deleted entities (P8; query_temporal.py:71-87). */
  def deletedEntities(nodes: DataFrame): DataFrame = answer {
    nodes.filter(coalesce(col("is_deleted"), lit(false)))
      .orderBy(desc("valid_to"), col("hubspot_id"))
  }

  /** Entities loaded in the last N hours (query_temporal.py:89-110). */
  def recentChanges(nodes: DataFrame, cutoff: Column, limit: Int): DataFrame = answer {
    nodes.filter(col("valid_from") > cutoff)
      .orderBy(desc("valid_from"), col("hubspot_id")).limit(limit)
  }

  /** Full version chain for one entity: current + history rows
    * (J12; query_temporal.py:50-69). */
  def entityHistory(current: DataFrame, history: DataFrame, id: String): DataFrame = answer {
    current.filter(col("hubspot_id") === id)
      .unionByName(history.filter(col("hubspot_id") === id), allowMissingColumns = true)
      .orderBy(desc("valid_from"))
  }

  /** W1 — latest previous version per entity (query_temporal.py:208-216). */
  def latestPreviousVersion(history: DataFrame): DataFrame = answer(previous(history))

  private def previous(history: DataFrame): DataFrame = {
    val w = Window.partitionBy("hubspot_id")
      .orderBy(col("valid_to").desc, col("valid_from").desc)
    history.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** F15 — field-level diff of current row vs latest history row, as
    * exploded (field, old, new) rows; the reference does this in driver
    * Python (query_temporal.py:230-239), here it is a struct comparison
    * projection. `fields` = the stable business columns to compare. */
  def compareVersions(current: DataFrame, history: DataFrame,
      fields: Seq[String]): DataFrame = answer {
    val prev = previous(history)
    val cur = current.select(col("hubspot_id") +:
      fields.map(f => col(f).cast("string").as(s"cur_$f")): _*)
    val old = prev.select(col("hubspot_id") +:
      fields.map(f => col(f).cast("string").as(s"old_$f")): _*)
    val diffs = array(fields.map(f =>
      struct(lit(f).as("field"), col(s"old_$f").as("old_value"),
        col(s"cur_$f").as("new_value"))): _*)
    cur.join(old, Seq("hubspot_id"))
      .select(col("hubspot_id"), explode(diffs).as("d"))
      .select(col("hubspot_id"), col("d.field"), col("d.old_value"), col("d.new_value"))
      .filter(!(col("old_value") <=> col("new_value")))
      .orderBy("hubspot_id", "field")
  }

  /** A10 — entity lifecycle: version count per entity
    * (query_temporal.py:251-280). */
  def entityLifecycle(current: DataFrame, history: DataFrame): DataFrame = answer {
    val versions = history.groupBy("hubspot_id").agg(count(lit(1)).as("n_history"))
    current.join(versions, Seq("hubspot_id"), "left")
      .select(col("hubspot_id"),
        (coalesce(col("n_history"), lit(0L)) + 1).as("version_count"),
        col("valid_from"), coalesce(col("is_deleted"), lit(false)).as("is_deleted"))
      .orderBy(desc("version_count"), col("hubspot_id"))
  }

  /** A9 — relationship-change statistics (query_temporal.py:191-206). */
  def relationshipChangeStats(relChanges: DataFrame): DataFrame = answer {
    relChanges.groupBy("relationship_type", "change_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("relationship_type", "change_type")
  }

  /** Complete relationship change history for one entity, on either end
    * of the edge (query_temporal.py:135-157). */
  def entityRelationshipHistory(relChanges: DataFrame, entityType: String,
      entityId: String): DataFrame = answer {
    relChanges.filter(
        (col("from_entity_type") === entityType && col("from_entity_id") === entityId) ||
          (col("to_entity_type") === entityType && col("to_entity_id") === entityId))
      .orderBy(asc("changed_at"), col("relationship_type"), col("to_entity_id"))
  }

  /** Most recent relationship changes, newest first with a limit
    * (query_temporal.py:112-133). Ties on changed_at (one batch shares a
    * load timestamp) are broken by the full edge key so the page is
    * deterministic. */
  def recentRelationshipChanges(relChanges: DataFrame, limit: Int = 20): DataFrame = answer {
    relChanges.orderBy(desc("changed_at"), col("relationship_type"),
      col("from_entity_id"), col("to_entity_id")).limit(limit)
  }

  /** Ownership transfer history from the change log, optionally scoped
    * to one entity type / entity, projected the way the reference
    * returns it (query_temporal.py:159-189). */
  def ownershipChanges(relChanges: DataFrame, entityType: Option[String] = None,
      entityId: Option[String] = None): DataFrame = answer {
    val owned = relChanges.filter(col("relationship_type") === "OWNED_BY")
    val scoped = Seq(
      entityType.map(t => col("from_entity_type") === t),
      entityId.map(id => col("from_entity_id") === id)
    ).flatten.foldLeft(owned)(_ filter _)
    scoped.select(col("from_entity_id").as("entity_id"), col("change_type"),
        col("to_entity_id").as("owner_id"), col("changed_at"))
      .orderBy(asc("changed_at"), col("entity_id"))
  }

  /** S17-style one-job statistics across all SCD tables: the reference's
    * 16 round trips collapsed into one union + groupBy
    * (query_temporal.py:282-325). */
  def temporalStatistics(tables: Map[String, (DataFrame, DataFrame)]): DataFrame = answer {
    tables.map { case (name, (current, history)) =>
      val cur = current.agg(
        count(lit(1)).as("n_rows"),
        sum(when(coalesce(col("is_deleted"), lit(false)), 1).otherwise(0)).as("n_deleted"))
        .select(lit(name).as("entity_type"), col("n_rows"), col("n_deleted"))
      val his = history.agg(count(lit(1)).as("n_history"))
        .select(col("n_history"))
      cur.crossJoin(his)
    }.reduce(_.unionByName(_)).orderBy("entity_type")
  }
}
