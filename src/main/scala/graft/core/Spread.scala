package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
import scala.util.control.NonFatal

/** Scan-starvation predicate for size-routed plan shapes.
  *
  * A parquet scan parallelizes by input SPLIT, and a split cannot cut a
  * row group — so a relation that lands as one file with one row group
  * (exactly what a small bench table or an under-compacted landing table
  * looks like) feeds its whole stage to ONE task no matter how many cores
  * the session has. Any expensive per-row kernel fused into that stage
  * (md5 portable hashes, shingling, per-token text stats) then runs
  * single-threaded while the other cores idle (round-14 measurement:
  * profile_approx spent 1.3 s of its 1.7 s in one single-task stage on
  * local[32]).
  *
  * [[isStarved]] is the route condition for operator-specific escapes
  * from that stage shape (e.g. [[graft.operators.ProfileOps]]'
  * dedup-before-hash route). It is deliberately NOT a repartition
  * helper: a measured round-14 attempt to fix starvation generically
  * with `repartition(cores)` made the stage 10× SLOWER — Catalyst
  * pushes projections below a round-robin exchange (so the kernel ran
  * single-task anyway) and sort-before-repartition (SPARK-23207) added
  * a single-task whole-relation sort on top. The winning shapes move
  * the kernel to the reduce side of an exchange the operator already
  * needs.
  *
  * At production scale the same scan yields splits ≫ cores, the
  * condition is false, and callers keep their scale shape — no second
  * pass or extra shuffle over a 100 TB corpus, ever. A garbage-high
  * size estimate (filters inherit their child's sizeInBytes) errs
  * toward `false`, i.e. toward the scale shape.
  */
object Spread {

  /** Default starvation bound: ≤ 16 MiB of input per core. At local[32]
    * that is ≤ 512 MiB total — any exchange of (a projection of) the
    * relation is sub-second — while any relation a cluster would
    * struggle with sits orders of magnitude above it.
    */
  val DefaultMaxBytesPerCore: Long = 16L << 20

  /** Plan-time size of `rel` (Catalyst stats; parquet = file bytes). */
  def bytesOf(rel: DataFrame): BigInt =
    rel.queryExecution.optimizedPlan.stats.sizeInBytes

  /** True when `rel` is small enough that its scan cannot feed the
    * session's cores AND a re-spreading exchange is trivially cheap. */
  def isStarved(rel: DataFrame, maxBytesPerCore: Long = DefaultMaxBytesPerCore): Boolean =
    try {
      val cores = rel.sparkSession.sparkContext.defaultParallelism
      cores > 1 && bytesOf(rel) <= BigInt(cores) * maxBytesPerCore
    } catch {
      // a plan whose stats can't be read (e.g. a streaming relation mid
      // micro-batch) keeps the scale shape — false is the safe direction
      case NonFatal(_) => false
    }

  /** The measured-winning escape shape (round 14, guide §2.4/§2.5), shared
    * by the operators that apply it: when `rel` is starved, hash-partition
    * its RAW rows on the caller-named high-cardinality `keys` across the
    * session's cores so the expensive kernel the CALLER applies NEXT runs
    * on the reduce side of one trivially-cheap exchange. Identity on row
    * content; a no-op (`rel` returned untouched, no exchange node) at
    * scale. The key is deterministic (guide §2.5: never rand() — retried
    * map tasks must re-send rows to the same partition) and spans
    * `cores × 64` distinct values so the hash spreads evenly.
    *
    * Callers MUST apply the kernel AFTER this call: Catalyst does not push
    * a Project below a hash RepartitionByExpression (measured — the
    * profileColumnsApprox route), so the kernel stays above the exchange;
    * by contrast round-robin `repartition(n)` is actively harmful here
    * (projection pushdown + SPARK-23207 sort, see the scaladoc above).
    */
  def respread(rel: DataFrame, keys: Seq[Column], route: String): DataFrame =
    if (isStarved(rel)) {
      val cores = rel.sparkSession.sparkContext.defaultParallelism
      RouteLog.costRoute(
        route,
        s"starved scan — hash-respread on (${keys.mkString(", ")}) over " +
          s"$cores tasks before the kernel; rows unchanged")
      rel.repartition(cores, pmod(xxhash64(keys: _*), lit(cores * 64)))
    } else rel

  /** [[respread]]'s sibling for window/aggregation consumers (round 15):
    * partition on the clustering keys THEMSELVES (not a derived hash), at
    * an explicit partition count, so the downstream window or groupBy
    * keyed on (a superset of) `keys` inherits the exchange instead of
    * adding its own — and, because the count is user-pinned
    * (REPARTITION_BY_NUM), AQE's byte-based coalescing cannot fold the
    * CPU-dense window stage back onto one task (measured round 15:
    * funnel_paths' whole window+path chain ran as a single 0.4 s task on
    * local[32] after AQE coalesced the 95k-user exchange by size). Same
    * route discipline as [[respread]]: identity on rows, fires only when
    * starved, no-op node-free at scale. Use ONLY where the key domain is
    * known skew-free at the starved size (e.g. tens of thousands of users
    * on a bench table); hot-key layouts must keep AQE's runtime handling.
    */
  def respreadKeyed(rel: DataFrame, keys: Seq[Column], route: String): DataFrame =
    if (isStarved(rel)) {
      val cores = rel.sparkSession.sparkContext.defaultParallelism
      RouteLog.costRoute(
        route,
        s"starved scan — keyed respread on (${keys.mkString(", ")}) over " +
          s"$cores pinned partitions; downstream clustered ops reuse it")
      rel.repartition(cores, keys: _*)
    } else rel

  /** The opposite escape (round 15): a BOUNDED relation (binned
    * aggregate, look state, boundary slice — the "windows ride bounded
    * aggregates" family) that several keyed operators consume pays one
    * exchange + AQE round PER operator, each over a handful of rows.
    * When starved, narrow it to one partition: a single partition
    * satisfies every downstream ClusteredDistribution, so the windows,
    * re-aggregations and final sorts above it run exchange-free in one
    * task. `coalesce` (not repartition) — it narrows the producing
    * aggregation's reduce side instead of adding a shuffle, and the
    * map-side partial aggregation over the big input keeps full
    * parallelism. The not-starved branch keeps the distributed shape
    * (plan-stats overestimates err toward it, the safe direction).
    */
  def collapseBounded(
      rel: DataFrame,
      route: String,
      probe: Option[DataFrame] = None): DataFrame =
    // `probe` (default: rel itself) supplies the starvation signal — pass
    // the operator's SCAN-BACKED input when `rel` sits above a join,
    // whose inflated size estimate would otherwise veto the collapse at
    // bench scale (estimates err high = err toward the distributed
    // shape, so the probe must be a relation with honest stats)
    if (isStarved(probe.getOrElse(rel))) {
      RouteLog.costRoute(
        route,
        "starved bounded relation — one partition; downstream windows/" +
          "aggregates run exchange-free")
      rel.coalesce(1)
    } else rel
}
