package graft.mv

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Bitmaps, Medians, Sketches}

/** A mergeable metric column of a state table — the Spark analog of one
  * `AggregateFunction(...)` / `SimpleAggregateFunction(...)` column of the
  * reference's AggregatingMergeTree store (ref dwm.mainpage_stat_mv_dis.sql:2-20).
  *
  * Three faces, mirroring -State / -Merge / finalize (doc:314-505):
  *  - `state`: aggregate raw input rows into a partial state
  *  - `merge`: aggregate stored state values (column named [[name]]) into one
  *  - `finish`: scalar finisher applied after merge (identity for plain sums)
  *
  * The invariant every Metric must satisfy (and tests assert):
  *   finish(merge(states of any partition of the rows)) == finish(state(all rows))
  * — the doc's OPTIMIZE-FINAL / pre-merge equivalence (doc:934-995).
  */
sealed trait Metric {
  def name: String
  def state: Column
  def merge: Column
  def finish: Column => Column = identity
}

/** SimpleAggregateFunction(sum): the partial IS the value; re-sum on merge
  * (ref dwm.mainpage_stat_mv_dis.sql:10-13, doc:510-605). `src` should be an
  * integral or DECIMAL column — money doubles belong in decimal (see
  * graft.queries.dec) so merges stay order-independent.
  */
final case class SumMetric(name: String, src: Column) extends Metric {
  val state: Column = sum(src).as(name)
  val merge: Column = sum(col(name)).as(name)
}

/** Row counter; merges by re-sum. */
final case class CountMetric(name: String) extends Metric {
  val state: Column = count(lit(1)).as(name)
  val merge: Column = sum(col(name)).as(name)
}

/** Non-null value counter (`count(x)`); merges by re-sum. Registering this
  * beside a [[SumMetric]] of the same source lets the projection rule
  * decompose `avg(x)` onto the pair (over file sources every column is
  * nullable, so a plain [[CountMetric]] can't stand in for `count(x)`).
  */
final case class CountValuesMetric(name: String, src: Column) extends Metric {
  val state: Column = count(src).as(name)
  val merge: Column = sum(col(name)).as(name)
}

/** SimpleAggregateFunction(min). */
final case class MinMetric(name: String, src: Column) extends Metric {
  val state: Column = min(src).as(name)
  val merge: Column = min(col(name)).as(name)
}

/** SimpleAggregateFunction(max). */
final case class MaxMetric(name: String, src: Column) extends Metric {
  val state: Column = max(src).as(name)
  val merge: Column = max(col(name)).as(name)
}

/** AggregateFunction(groupBitmap, UInt32): exact UV as a RoaringBitmap state
  * (ref dwm.mainpage_stat_mv_dis.sql:134-139). Finalizes to cardinality.
  * Requires `ChCompat.register` on the session (StateTable does this).
  */
final case class BitmapUvMetric(name: String, src: Column) extends Metric {
  val state: Column = Bitmaps.bitmap_agg(src).as(name)
  val merge: Column = Bitmaps.bitmap_merge_agg(col(name)).as(name)
  override val finish: Column => Column = Bitmaps.bitmap_cardinality
}

/** AggregateFunction(uniqCombined): approximate UV as an HLL sketch
  * (ref dwm.mainpage_stat_mv_dis.sql:9). Finalizes to the estimate.
  */
final case class HllUvMetric(name: String, src: Column, lgK: Int = 12) extends Metric {
  val state: Column = Sketches.hll_state(src, lgK).as(name)
  val merge: Column = Sketches.hll_merge_state(col(name)).as(name)
  override val finish: Column => Column = Sketches.hll_estimate
}

/** AggregateFunction(medianExact): exact median needs all values, so the
  * state is a sorted value array (ref dwm.mainpage_stat_mv_dis.sql:83).
  */
final case class MedianExactMetric(name: String, src: Column) extends Metric {
  val state: Column = Medians.median_state(src).as(name)
  val merge: Column = Medians.median_merge_state(col(name)).as(name)
  override val finish: Column => Column = Medians.median_finalize
}

/** AggregateFunction(quantileTDigest)-role: BOUNDED approximate quantile
  * state — the serving-table alternative to [[MedianExactMetric]]'s
  * unbounded value array (SCALE.md §3). State is a GK summary capped at
  * the compress threshold regardless of group size (documented divergence:
  * GK, not t-digest — the bounded/mergeable/ε-approximate contract is the
  * same). Finalizes to the `q`-quantile. Requires `ChCompat.register`
  * (StateTable does this).
  */
final case class QuantileSketchMetric(name: String, src: Column,
    q: Double = 0.5, eps: Double = 0.01) extends Metric {
  val state: Column = graft.functions.QuantileSketch.quantile_state(src, eps).as(name)
  val merge: Column = graft.functions.QuantileSketch.quantile_merge_state(col(name)).as(name)
  override val finish: Column => Column =
    c => graft.functions.QuantileSketch.quantile_value(c, q)
}

/** AggregateFunction(entropy): Shannon entropy over a value→count map
  * state (round-8 StatAggregates) — the MV-incremental form of the
  * one-shot `entropy` aggregate; merge folds maps, finalize computes the
  * bit-exact same value (sorted-order reduction). State size ∝ the
  * group's distinct values. Requires `ChCompat.register` (StateTable
  * does this).
  */
final case class EntropyMetric(name: String, src: Column) extends Metric {
  val state: Column = graft.functions.StatAggregates.entropy_state(src).as(name)
  val merge: Column = graft.functions.StatAggregates.entropy_merge_state(col(name)).as(name)
  override val finish: Column => Column = graft.functions.StatAggregates.entropy_finalize
}

/** AggregateFunction(sumMap): per-group key→sum breakdown map (CH metric
  * tables carrying counter maps instead of one row per counter). The state
  * is the sorted (keys, values) struct, and merging is just sumMap over
  * the stored arrays — the aggregate is its own merge, so the OPTIMIZE-
  * FINAL invariant holds by construction. State size ∝ the group's
  * distinct keys. Requires `ChCompat.register` (StateTable does this).
  */
final case class SumMapMetric(name: String, keys: Column, values: Column) extends Metric {
  val state: Column = graft.functions.MapAggregates.sum_map(keys, values).as(name)
  val merge: Column = graft.functions.MapAggregates
    .sum_map(col(s"$name.keys"), col(s"$name.values")).as(name)
}
