package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The engine's one broadcast policy.
  *
  * Spark's planner decides whether a join side broadcasts: its size
  * estimate at planning, AQE's measured stage sizes at run time. An
  * explicit `broadcast()` skips both checks and fails only at the 8 GB /
  * 512M-row broadcast cap (q33's r20 bug), so no hint sits on a side
  * that grows with the scale factor (customer, part, supplier, orders,
  * lineitem, or a frame at their grain) nor on a plain nation/region
  * scan. A dimension FILTER is a `left_semi` join, which keeps the left
  * side's estimate where an inner join's is the product of its inputs',
  * dimension attributes attach after the fact aggregate (q35), and each
  * dimension joins the fact as its own plain scan rather than pre-joined
  * to another (`Analytics.withSupplierNation`).
  *
  * A raw hint stays only where the planner cannot size the side, and its
  * line names the bound (BoundedBroadcastSpec's hint lint checks it):
  * `// hint: scalar` for a global aggregate or key lookup (one row), or
  * `// hint: dial` for a side bounded by a named constant or by a schema
  * domain that does not grow with the scale factor (the probe panel, a
  * beam, the k-means cells, a config or layout list, [[PrefixSum]]'s
  * per-range offsets; returnflags, priorities, event types, languages,
  * sources, and the days, weeks or years of the generated date range).
  * The planner cannot size such an aggregate: its size-only estimate of
  * a grouped aggregate is the child's, so a per-priority table built
  * from orders would estimate as orders-sized and shuffle the fact side.
  *
  * [[hintIfBounded]] is the only size-gated hint: the caller passes a row
  * count it measured (off a checkpointed frame, one bounded
  * re-derivation, or `Tables.rows` of the base table a dim side filters,
  * counted once per JVM; this object runs no action) and the hint applies only
  * up to [[maxRows]] — rows, not bytes, as each gated frame is a few
  * fixed-width columns. `SPARK_GRAFT_BROADCAST_MAX_ROWS` overrides the
  * 4M default. Over the bound the planner/AQE choose; the join result is
  * identical either way.
  */
object BoundedBroadcast {
  /** Local default: 4M rows ≈ low-hundreds-of-MB built relation for the
    * 2-3-column long frames every call site passes — comfortably inside
    * executor memory anywhere, 2 OoM under the 512M-row broadcast cap. */
  val DefaultMaxRows = 4000000L

  def maxRows: Long = maxRowsFrom(sys.env.get("SPARK_GRAFT_BROADCAST_MAX_ROWS"))

  /** Unset gives [[DefaultMaxRows]]; anything but a positive integer fails
    * naming the variable (`0` or `-1` would silently drop every hint). */
  private[graft] def maxRowsFrom(env: Option[String]): Long =
    graft.GraftSession.dial("SPARK_GRAFT_BROADCAST_MAX_ROWS", env, DefaultMaxRows, Long.MaxValue)

  /** `broadcast(df)` iff `measuredRows` (a count the caller measured of
    * df or a superset of it) is within [[maxRows]]; otherwise `df`
    * unchanged — the planner picks the shuffle strategy, AQE can still
    * promote small sides at runtime. */
  def hintIfBounded(df: DataFrame, measuredRows: Long): DataFrame =
    if (measuredRows <= maxRows) broadcast(df) else df
}
