package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic CDC A(dd)/C(hange)/D(elete) merge — the library API behind
  * q_cdc_merge. Implements the reference's monthly-update decision
  * matrix (land_registry_monthly_update_database_updater.py:47-88,
  * add_row/change_row/delete_row) over any keyed table:
  *
  *   - base: current table with soft-delete flag
  *   - changes: (key, record_op ∈ A/C/D, new values)
  *   - result: one row per surviving key with the applied values, the
  *     new soft-delete flag, and the outcome category (the reference's
  *     InputFileStatistics counter names).
  *
  * One full-outer shuffle join on the key — no per-row driver logic —
  * so the same plan applies a 10-row monthly update or a 100 TB
  * backfill. Row identity ("identical") compares `compareCols`.
  */
object CdcMerge {
  /** Outcomes that take the change row's values. */
  private val takesNew = Seq(
    "add_and_added", "change_but_missing_and_added", "add_but_deleted_and_changed",
    "add_but_changed", "change_and_changed",
    "delete_but_not_identical_and_changed_and_deleted")
  /** Outcomes that end deleted. */
  private val endsDeleted = Seq(
    "delete_and_deleted", "delete_but_not_identical_and_changed_and_deleted")

  /** The reference's 15-outcome decision matrix over the renamed
    * `__base_*`/`__new_*` columns. `inBase` is the key's presence in
    * the base — a literal where the plan already knows it, so Catalyst
    * folds the dead branches away. */
  private def outcome(inBase: Column, compareCols: Seq[String]): Column = {
    val op = col("record_op")
    val wasDeleted = col("is_deleted") === "T"
    // null-safe equality: two null fields (empty CSV cells) count as
    // identical, as in the reference's row comparison
    val identical = compareCols
      .map(x => col(s"__new_$x") <=> col(s"__base_$x"))
      .reduce(_ && _)
    when(!inBase && op === "A", "add_and_added")
      .when(!inBase && op === "C", "change_but_missing_and_added")
      .when(!inBase && op === "D", "delete_but_missing_and_ignored")
      .when(!inBase, "invalid_op_missing_and_ignored")
      .when(op.isNull && wasDeleted, "unchanged_deleted")
      .when(op.isNull, "unchanged")
      .when(wasDeleted && op === "A", "add_but_deleted_and_changed")
      .when(wasDeleted && op === "C", "change_but_deleted_and_ignored")
      .when(wasDeleted && op === "D", "delete_but_deleted_and_ignored")
      .when(op === "A" && identical, "add_but_already_identical_and_ignored")
      .when(op === "A", "add_but_changed")
      .when(op === "C" && identical, "change_but_already_identical_and_ignored")
      .when(op === "C", "change_and_changed")
      .when(op === "D" && identical, "delete_and_deleted")
      .when(op === "D", "delete_but_not_identical_and_changed_and_deleted")
      // any other op marker is malformed input: keep the base row
      // untouched and surface the row in stats instead of silently
      // soft-deleting it via the catch-all
      .otherwise("invalid_op_ignored")
  }

  /** Final values and `is_deleted` from the outcome: (key,
    * compareCols, is_deleted, outcome). */
  private def finish(classified: DataFrame, key: String,
                     compareCols: Seq[String]): DataFrame = {
    val outcome = col("outcome")
    val takes = outcome.isin(takesNew: _*)
    classified.select(col(key) +:
      compareCols.map(x => when(takes, col(s"__new_$x")).otherwise(col(s"__base_$x")).as(x)) :+
      when(outcome.isin(endsDeleted: _*), "T")
        .when(outcome === "add_but_deleted_and_changed", "F")
        .when(col("is_deleted") === "T", "T").otherwise("F").as("is_deleted") :+
      outcome: _*)
  }

  /** @param base        current table: key, compareCols, `is_deleted` ('T'/'F')
    * @param changes     change file: key, `record_op`, compareCols (new values)
    * @param key         join key column name
    * @param compareCols value columns used for the identical-row test
    */
  def merge(base: DataFrame, changes: DataFrame, key: String,
            compareCols: Seq[String]): DataFrame = {
    val b = compareCols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"__base_$c"))
      .withColumn("__in_base", lit(1))
    val c = compareCols.foldLeft(changes)((df, x) => df.withColumnRenamed(x, s"__new_$x"))
    // explicit presence marker — compare columns may legitimately be
    // null (empty CSV cells), so their nullness can't signal absence
    finish(b.join(c, Seq(key), "full_outer")
      .withColumn("outcome", outcome(col("__in_base").isNotNull, compareCols)),
      key, compareCols)
  }

  /** Post-update table: drop the never-existed keys (D or malformed
    * op on a missing key). */
  def applied(merged: DataFrame): DataFrame =
    merged.filter(!col("outcome").isin(
      "delete_but_missing_and_ignored", "invalid_op_missing_and_ignored"))

  /** The reference's operation-log statistics. */
  def stats(merged: DataFrame): DataFrame =
    merged.groupBy("outcome").agg(count(lit(1)).as("n_rows")).orderBy("outcome")

  /** The small-update merge path: when the change file is broadcastable
    * (a monthly update vs a 100 TB base), the full-outer formulation
    * is the wrong plan — it shuffles the ENTIRE base on the key. This
    * variant never shuffles or re-partitions the base:
    *
    *   1. base ⟕ broadcast(changes)      — all in-base outcomes
    *   2. base ⋉ broadcast(changes)      — matched change keys (small)
    *   3. changes ⟲ broadcast(matched)   — the missing-key change rows
    *   4. union of 1 and 3
    *
    * Every join builds on the small side; the base is NEVER shuffled
    * or re-partitioned. Scan cost: one full-row pass (step 1) plus one
    * column-pruned key-only pass (step 2) — vs the full shuffle of
    * every base byte in the full-outer plan. Outcome semantics are
    * identical to merge() (spec-pinned). */
  def mergeBroadcast(base: DataFrame, changes: DataFrame, key: String,
                     compareCols: Seq[String]): DataFrame = {
    val b = compareCols.foldLeft(base)((df, c) => df.withColumnRenamed(c, s"__base_$c"))
    val c = compareCols.foldLeft(changes)((df, x) => df.withColumnRenamed(x, s"__new_$x"))
    val cols = col(key) +: col("outcome") +: col("is_deleted") +:
      compareCols.flatMap(x => Seq(col(s"__base_$x"), col(s"__new_$x")))
    // 1: in-base rows (change present or not) — base never shuffles
    val inBaseRows = b.join(broadcast(c), Seq(key), "left")
      .withColumn("outcome", outcome(lit(true), compareCols))
    // 2: matched change keys — output bounded by |changes|
    val matched = b.select(col(key))
      .join(broadcast(c.select(col(key))), Seq(key), "left_semi")
    // 3: change rows whose key is NOT in base, with the base-side
    // columns null so the shared matrix resolves
    val missing = compareCols.foldLeft(
        c.join(broadcast(matched), Seq(key), "left_anti")
          .withColumn("is_deleted", lit(null).cast("string")))((df, x) =>
        df.withColumn(s"__base_$x", lit(null).cast(df.schema(s"__new_$x").dataType)))
      .withColumn("outcome", outcome(lit(false), compareCols))
    finish(inBaseRows.select(cols: _*).unionByName(missing.select(cols: _*)),
      key, compareCols)
  }

  /** Fold a sequence of monthly update files over a base snapshot in
    * order — the reference's month-after-month database maintenance
    * loop (and its rewind/replay notebook), as one composed plan. Each
    * step's outcome column is dropped; soft-delete state carries
    * through, so a key deleted in month N and re-added in month N+1
    * follows the undelete path. */
  def applyAll(base: DataFrame, updates: Seq[DataFrame], key: String,
               compareCols: Seq[String]): DataFrame =
    updates.foldLeft(base) { (current, changes) =>
      applied(merge(current, changes, key, compareCols)).drop("outcome")
    }
}
