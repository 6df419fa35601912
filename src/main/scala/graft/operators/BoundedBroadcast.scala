package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-BOUNDED broadcast hint — the guard the r20 verdict ordered for
  * every broadcast whose small side is small by DATA VOLUME, not by a
  * compile-time dial.
  *
  * An explicit `broadcast()` hint overrides AQE's size estimate checks:
  * Spark builds the relation regardless and fails only at the hard
  * 8 GB / 512-million-row broadcast cap (or the driver OOMs first). That
  * is the right trade for frames a DIAL bounds (probe panels, beam
  * fronts — constants at any corpus size) but wrong for frames that are
  * merely PROPORTIONALLY small (q33's node-grained rank: customers and
  * suppliers scale with SF, so "node-grained" is billions of rows at
  * 100 TB; s28/s29's touched/affected sets: batch-proportional, bounded
  * only by the batch convention). This helper applies the hint ONLY
  * under a measured row bound and otherwise leaves the join strategy to
  * the planner/AQE — the join result is identical either way, so oracle
  * semantics cannot change.
  *
  * The bound is rows, not bytes, because every caller's frame is a
  * handful of fixed-width columns (longs / a short class string): at the
  * default 4M rows the built hash relation is low-hundreds of MB — far
  * under the 8 GB cap with executor headroom. Production deployments
  * size it via `SPARK_GRAFT_BROADCAST_MAX_ROWS` (the
  * SPARK_GRAFT_STREAM_STATE_PARTITIONS pattern, parsed where it is used
  * by `StreamQueries.statePartitions`: a scale dial with a local
  * default, guide §2 "scale-adaptive, not a local constant").
  *
  * The measured count comes from the caller, who reads it off an
  * already-checkpointed frame (a near-free job over materialized
  * blocks) or accepts one bounded re-derivation; this object never
  * triggers actions itself.
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
