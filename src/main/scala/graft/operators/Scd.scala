package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension maintenance — the versioned-upsert step a
  * warehouse runs when a new source snapshot arrives. The reference's
  * whole pipeline is a version-over-version comparison of trade-data
  * releases (assess_changes.qmd:97-179 joins two releases full-outer
  * and classifies added/removed/changed); SCD type 2 is that same
  * comparison PERSISTED: instead of a report, each change closes the
  * old row's validity interval and opens a new one, so every
  * historical state stays queryable ("as of" queries).
  */
object Scd {

  /** Type-2 merge of a full `updates` snapshot into a versioned
    * `current` table. `current` carries `valid_from`/`valid_to`
    * (valid_to NULL = open row); `updates` is the new complete
    * snapshot of `keys ++ attrs`. Snapshot semantics:
    *
    *  - key in both, any attr differs (null-safely) → old row closes
    *    at `effective`, new open row inserted
    *  - key in both, attrs equal → open row kept as-is
    *  - key only in current → soft delete: row closes at `effective`
    *  - key only in updates → new open row inserted
    *  - closed history rows pass through untouched
    *
    * Plan shape at scale: ONE key-keyed shuffle join (open rows ⋈
    * snapshot, full-outer), lazy: each joined row emits its zero, one
    * or two output rows through one `inline` generator, so the join
    * feeds both fates without a stage write and without Catalyst
    * planning a second join per fate. History is a pure union
    * pass-through. Keys must be non-null on both sides (enforced by
    * the full-outer classification).
    *
    * @return the new versioned table, same schema as `current`
    */
  def merge2(current: DataFrame, updates: DataFrame, keys: Seq[String],
             attrs: Seq[String], effective: Column): DataFrame = {
    require(keys.nonEmpty && attrs.nonEmpty, "keys and attrs required")
    val cols = keys ++ attrs
    val history = current.filter(col("valid_to").isNotNull)
    val open = current.filter(col("valid_to").isNull)
    val joined = open.select((cols :+ "valid_from").map(col): _*).as("c")
      .join(updates.select(cols.map(col): _*).as("u"),
        keys.map(k => col(s"c.$k") === col(s"u.$k")).reduce(_ && _),
        "full_outer")
    val inCur = col(s"c.${keys.head}").isNotNull
    val inUpd = col(s"u.${keys.head}").isNotNull
    val changed = attrs.map(a => !(col(s"c.$a") <=> col(s"u.$a")))
      .reduce(_ || _)
    val vfType = current.schema("valid_from").dataType
    val vtType = current.schema("valid_to").dataType
    // current-side row: kept open if unchanged, else closed
    val curRow = struct(cols.map(c => col(s"c.$c").as(c)) ++ Seq(
      col("c.valid_from").as("valid_from"),
      when(!inUpd || changed, effective).cast(vtType).as("valid_to")): _*)
    // update-side row: a fresh open version for a new or changed key
    val updRow = struct(cols.map(c => col(s"u.$c").as(c)) ++ Seq(
      effective.cast(vfType).as("valid_from"),
      lit(null).cast(vtType).as("valid_to")): _*)
    history.select((cols ++ Seq("valid_from", "valid_to")).map(col): _*)
      .unionByName(joined.select(inline(filter(
        array(when(inCur, curRow), when(inUpd && (!inCur || changed), updRow)),
        _.isNotNull))))
  }

  /** Time-travel read over an SCD2 history: the rows valid AT `asOf`
    * under the half-open [valid_from, valid_to) convention [[merge2]]
    * writes (NULL valid_to = still open). A narrow codegen'd filter —
    * at 100 TB the win comes from partitioning the history table by
    * valid_from range so the scan prunes, which this predicate shape
    * permits (both bounds are simple column comparisons).
    */
  def snapshotAt(history: DataFrame, asOf: Column): DataFrame =
    history.filter(col("valid_from") <= asOf &&
      (col("valid_to").isNull || col("valid_to") > asOf))
}
