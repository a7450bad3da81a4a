package graft.jobs

import graft.format.QTable
import graft.model.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table CHECK constraints (ALTER TABLE ADD CONSTRAINT analogue, the
  * Delta `delta.constraints.<name>` design re-derived).
  *
  * Storage: each constraint is a `constraint.<name>` TABLE PROPERTY
  * holding its SQL predicate over LOGICAL column names — so constraints
  * ride the existing property machinery for free: a set/drop is a
  * metadata-only commit, history is time-travelable, branches carry
  * their own set, and fast-forward adopts the branch's.
  *
  * Enforcement: every NEW-ROW writer validates its new row content in
  * ONE extra aggregate pass before any write — [[AppendJob]] (which the
  * streaming ingest sink and SQL INSERT route through) and
  * [[RowLevelWrite]] (the patched rows and inserts of MERGE, UPDATE and
  * upsert, on both strategies). Pure-layout rewrites
  * (compact / cluster / rebucket / rewrite-manifests) move rows without
  * changing them and are deliberately NOT re-validated: with
  * [[Constraints.set]] refusing a constraint the existing data
  * violates, every live row is valid by induction, and enforcement
  * stays O(new rows) — never O(table), the only shape that survives
  * 10^12 rows.
  *
  * Three-valued logic follows the SQL standard for CHECK: a row
  * violates only when the predicate evaluates to literal FALSE;
  * NULL/unknown passes (spell NOT NULL as `c IS NOT NULL`).
  */
object Constraints {
  val Prefix = "constraint."

  /** The snapshot's constraints as (name, SQL predicate), name-sorted. */
  def of(snap: Snapshot): Seq[(String, String)] =
    snap.props.toSeq.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }.sortBy(_._1)

  /** Validate new rows (logical column names) against every table
    * constraint in one aggregate pass; throws listing each violated
    * constraint with its violation count. No-op when none are set:
    * `rows` is then never built. */
  def enforce(rows: => DataFrame, snap: Snapshot, context: String): Unit = {
    val cs = of(snap)
    if (cs.isEmpty) return
    // positional aliases: constraint names need no column-name hygiene
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      sum(when(expr(e) <=> lit(false), 1L).otherwise(0L)).as(s"_c$i")
    }
    val r = rows.agg(aggs.head, aggs.tail: _*).head()
    val violated = cs.zipWithIndex.flatMap { case ((n, e), i) =>
      val v = if (r.isNullAt(i)) 0L else r.getLong(i)
      if (v > 0) Some(s"'$n' CHECK ($e): $v row(s)") else None
    }
    if (violated.nonEmpty) throw new IllegalStateException(
      s"$context rejected by table constraint ${violated.mkString("; ")}")
  }

  /** Project a physical-schema writer frame back to logical names for
    * enforcement (constraint predicates see the user-facing schema).
    * Extra columns (`_row_id`, scratch) are dropped — predicates can
    * only reference schema fields. */
  def logicalView(df: DataFrame, snap: Snapshot): DataFrame =
    df.select(snap.schemaFields.map(f => col(f.phys).as(f.name)): _*)

  /** Add a constraint: refuses unless every EXISTING row satisfies it
    * (one stats-skipping scan — the induction base that lets rewrites
    * skip re-validation forever after), then commits the property. */
  def set(table: QTable, name: String, predicate: String): Snapshot = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_.-]+"),
      s"constraint name must be [A-Za-z0-9_.-]+, got '$name'")
    val snap = table.currentSnapshot
    // parse up front for a clean error, then scan for violations; the
    // limit(1) stops the scan at the first counterexample
    val bad = table.read(snap).where(expr(predicate) <=> lit(false))
      .select("image_id").limit(1).collect()
    require(bad.isEmpty,
      s"cannot add constraint '$name': existing row " +
        s"image_id=${bad.headOption.map(_.getString(0)).getOrElse("?")} " +
        s"violates CHECK ($predicate)")
    table.setProperties(Map(Prefix + name -> predicate))
  }

  def drop(table: QTable, name: String): Snapshot = {
    val snap = table.currentSnapshot
    require(snap.props.contains(Prefix + name), s"no such constraint: $name")
    table.unsetProperties(Seq(Prefix + name))
  }
}
