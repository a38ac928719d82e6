package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact quantiles over grouped data.
  *
  * Spark's built-in exact `percentile` / `percentile_disc` aggregates
  * buffer the whole per-group value multiset in an ObjectHashAggregate
  * (an OpenHashMap per partition per group, object-serialized through
  * the shuffle, merged single-threaded per group, then sorted at
  * output) — and every aggregate CALL carries its own copy of that
  * buffer. This operator computes the identical values through plain
  * relational pieces instead:
  *
  *   1. `groupBy(keys :+ value).count()` — codegen'd hash aggregate;
  *      map-side combine shrinks the shuffle to DISTINCT values, and
  *      ANY number of requested quantiles shares this one pass;
  *   2. a running-count window per group over the distinct values
  *      (one exchange on the group keys, sort on the value);
  *   3. one final hash aggregate that rank-selects each requested
  *      quantile: the value at rank k is `min(value | cum >= k)`.
  *
  * At 100 TB the real scale path for quantiles is a mergeable sketch
  * (`approx_percentile`); this operator is the EXACT twin with the
  * best available distributed shape — partial aggregation everywhere,
  * per-group work bounded by distinct values, no object buffers.
  *
  * REGIME (measured, same-JVM interleaved A/B at sf0.1 and sf1): the
  * built-in buffer is itself distinct-compressed (an OpenHashMap of
  * value→count), so this operator wins where groups are FEW and LARGE
  * — per-group distinct counts that grow with the data (q40 19.5→6.7 s,
  * q402 7.7→2.7 s, q190 7.8→6.0 s, q164 5.3→4.3 s at the sf1 rung) —
  * and LOSES or washes where groups are MANY and SMALL (per-entity
  * order statistics: q419 keeps the built-in), because the fixed
  * extra shuffle+window never amortizes over tiny buffers. Pick by
  * group shape, not by default — and RE-MEASURE after execution-
  * environment changes: q361's many-small-groups shape was a wash in
  * round 9 but the round-11 heap/GC fixes moved its bottleneck into
  * the 3-buffer percentile aggregate, and the round-12 in-session A/B
  * has rank-select winning 20-30% there at sf0.1 AND the sf1 rung.
  *
  * Selection semantics replicate Spark's implementations bit-exactly
  * (verified against the decompiled Spark 4.1.2
  * `PercentileBase.getPercentile` / `PercentileDisc.getPercentile`,
  * non-legacy path, and fuzz-pinned in ExactQuantilesSpec):
  *
  *  - disc: rank = ceil(n * p) as a double product, first distinct
  *    value whose cumulative count reaches it;
  *  - cont: pos = (n-1) * p; keys at 0-based floor(pos)/ceil(pos);
  *    `(hi-pos)*loKey + (pos-lo)*hiKey` in IEEE doubles, collapsing
  *    to loKey when floor==ceil or the two keys coincide.
  *
  * Nulls in the value column are ignored (as the built-ins do); a
  * group whose values are ALL null stays in the output with null
  * quantiles and `__group_n = 0`, exactly like the built-in aggregate
  * keeps the group — so call sites may re-attach the quantile frame
  * with a plain inner join without dropping such groups.
  *
  * Zero representation — the operator's one stated contract beyond
  * the built-ins: a selected zero always comes back as `+0.0`.
  * `groupBy` runs the values through UnsafeRow's floating-point
  * normalization, so `-0.0` and `0.0` collapse to one distinct value
  * in the rank-select forms (numerically equal and adjacent in sort
  * order, so rank selection picks the same position either way);
  * Spark's raw built-in keeps the two bit patterns as separate
  * OpenHashMap keys and can return `-0.0`, so [[autoDisc]] /
  * [[autoCont]]'s built-in branches normalize their outputs to the
  * same `+0.0` — every entry point of this object is bit-identical
  * to every other, negative zeros included (fuzz-pinned in
  * ExactQuantilesSpec).
  */
object ExactQuantiles {

  /** Distinct-value cumulative frame: keys :+ (value, __cnt, __cum, __n). */
  private def cumFrame(df: DataFrame, keys: Seq[String], value: String): DataFrame = {
    // null values flow through the count (NOT pre-filtered) so a group
    // whose values are all null keeps a row: its conditional sums are
    // null ⇒ every rank probe misses ⇒ null quantiles, __n = 0 — the
    // built-in aggregate's behavior for empty input. Null rows sort
    // first (asc nulls-first) and contribute nothing to either sum.
    val counted = df
      .groupBy((keys :+ value).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val byKeys = Window.partitionBy(keys.map(col): _*)
    val nonNullCnt = when(col(value).isNotNull, col("__cnt"))
    counted
      // running frame over distinct values: RANGE default is fine — the
      // ordering key is unique per group after the distinct count
      .withColumn("__cum", sum(nonNullCnt).over(byKeys.orderBy(col(value))))
      .withColumn("__n", coalesce(sum(nonNullCnt).over(byKeys), lit(0L)))
  }

  /** Value at 1-based rank `k` within the group, as the original type. */
  private def atRank(value: String, k: Column): Column =
    min(when(col("__cum") >= k, col(value)))

  // ------------------------------------------------------------------
  // Regime auto-selection — the third instance of the engine's Auto
  // doctrine (NearDupCandidates.Auto, Hits.authoritiesAuto): the
  // regime is MEASURED per input, not known up front by the caller.
  // ------------------------------------------------------------------

  /** Average non-null group size from one bounded aggregate: total
    * non-null values over an HLL estimate (±2%) of the group count —
    * plenty for a regime boundary three orders of magnitude wide.
    */
  def probeAvgGroupSize(df: DataFrame, keys: Seq[String],
                        value: String): Double = {
    val r = df.agg(
      count(col(value)).as("rows"),
      approx_count_distinct(struct(keys.map(col): _*)).as("groups"))
      // bounded-collect: O(1) — one global aggregate row
      .collect()(0)
    if (r.getLong(1) == 0L) 0.0 else r.getLong(0).toDouble / r.getLong(1)
  }

  /** [[autoDisc]]/[[autoCont]]'s default cutoff — PROVENANCE: measured
    * on a 32-core/128 GiB single JVM (SCALING.md rounds 9-10): the two
    * forms WASH at ~30 rows/group at every rung (±9%), the rank-select
    * wins +30% at sf1 growing to ×15 at sf10 at ~2·10⁷ rows/group.
    * 10⁴ sits three orders above the wash rung and three below the
    * win rung, so the exact value is insensitive on this box; the
    * regime driver is the built-in's single-threaded per-group buffer
    * merge, which a cluster with different per-task memory should
    * re-probe (SCALING.md, "Round 10: the sf10 rung"; `dev/ConfAb` is
    * the A/B tool) rather than inherit blindly.
    */
  val DefaultLargeGroupCutoff: Double = 10000.0

  /** `when(c === 0.0, 0.0)` — collapses `-0.0` to `+0.0` on a double
    * output column, making every entry point of this object agree
    * bit-exactly: the rank-select forms already return `+0.0` (the
    * groupBy normalization, header caveat), so the built-in branches
    * normalize their outputs to the same contract. IEEE `===` treats
    * the two zeros as equal; nulls fall through untouched.
    */
  private def normZero(c: Column): Column =
    when(c === lit(0.0d), lit(0.0d)).otherwise(c)

  /** [[disc]] / the built-in `percentile_disc`, picked by the probe.
    * Measured regimes (same-JVM interleaved A/B, SCALING.md rounds
    * 9-10): at ~30 rows/group (q361/q419's shape) the two forms WASH
    * at every rung (±9%), at ~2·10⁷ rows/group (q190's shape) the
    * rank-select wins +30% at sf1 growing to ×15 at sf10 — so any
    * cutoff between the rungs is safe, and
    * [[DefaultLargeGroupCutoff]] leaves the wash side three orders of
    * margin. Output schema and values are identical either way: the
    * rank-select replicates the built-in bit-exactly (fuzz-pinned in
    * ExactQuantilesSpec) and zeros come back as `+0.0` on BOTH routes
    * — the built-in branch normalizes `-0.0` to match the rank-select
    * forms' groupBy normalization (header caveat), so Auto routing
    * can never change a bit-exact hash comparison, negative zeros
    * included.
    */
  def autoDisc(df: DataFrame, keys: Seq[String], value: String,
               ps: Seq[(String, Double)],
               largeGroupCutoff: Double = DefaultLargeGroupCutoff): DataFrame =
    if (probeAvgGroupSize(df, keys, value) > largeGroupCutoff)
      disc(df, keys, value, ps)
    else {
      val aggs = ps.map { case (name, p) =>
        normZero(expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $value)")
          .cast("double")).as(name)
      } :+ count(col(value)).as("__group_n")
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }

  /** [[cont]] / the built-in `percentile`, picked by the same probe.
    * Bit-stable across routes like [[autoDisc]] (zeros normalized to
    * `+0.0` on the built-in branch).
    */
  def autoCont(df: DataFrame, keys: Seq[String], value: String,
               ps: Seq[(String, Double)],
               largeGroupCutoff: Double = DefaultLargeGroupCutoff): DataFrame =
    if (probeAvgGroupSize(df, keys, value) > largeGroupCutoff)
      cont(df, keys, value, ps)
    else {
      val aggs = ps.map { case (name, p) =>
        normZero(expr(s"percentile($value, $p)")).as(name)
      } :+ count(col(value)).as("__group_n")
      df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }

  /** `percentile_disc(p) WITHIN GROUP (ORDER BY value)` per group, one
    * output column per `(name, p)`, plus `__group_n` (non-null count).
    * Output quantiles are DoubleType, as the built-in returns.
    */
  def disc(df: DataFrame, keys: Seq[String], value: String,
           ps: Seq[(String, Double)]): DataFrame = {
    val frame = cumFrame(df, keys, value)
    val aggs = ps.map { case (name, p) =>
      // Spark PercentileDisc: target rank = ceil(count * percentage)
      // evaluated as a DOUBLE product — the double rounding is part of
      // the contract (ceil() on DoubleType yields LongType, matching
      // the d2l in the reference implementation)
      atRank(value, ceil(col("__n").cast("double") * lit(p)))
        .cast("double").as(name)
    } :+ max(col("__n")).as("__group_n")
    frame.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Interpolating `percentile(value, p)` per group, one output column
    * per `(name, p)`, plus `__group_n` (non-null count).
    */
  def cont(df: DataFrame, keys: Seq[String], value: String,
           ps: Seq[(String, Double)]): DataFrame = {
    val frame = cumFrame(df, keys, value)
    val aggs = ps.flatMap { case (name, p) =>
      val pos = (col("__n") - 1).cast("double") * lit(p)
      val lo = floor(pos)
      val hi = ceil(pos)
      Seq(
        atRank(value, lo + 1).cast("double").as(s"__lo_$name"),
        atRank(value, hi + 1).cast("double").as(s"__hi_$name"),
        // per-group scalars, constant across the group's rows
        max(lo).as(s"__flo_$name"), max(hi).as(s"__fhi_$name"),
        max(pos).as(s"__pos_$name"))
    } :+ max(col("__n")).as("__group_n")
    val ranked = frame.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val outCols = keys.map(col) ++ ps.map { case (name, _) =>
      val (lk, hk) = (col(s"__lo_$name"), col(s"__hi_$name"))
      val (flo, fhi, pos) = (col(s"__flo_$name"), col(s"__fhi_$name"), col(s"__pos_$name"))
      // exact replica of PercentileBase.getPercentile's arithmetic:
      // (higher - position) * lowerKey + (position - lower) * higherKey
      when(fhi === flo || hk === lk, lk)
        .otherwise((fhi.cast("double") - pos) * lk + (pos - flo.cast("double")) * hk)
        .as(name)
    } :+ col("__group_n")
    ranked.select(outCols: _*)
  }
}
