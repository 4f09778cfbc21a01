package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-pass column profiling: row/null/distinct counts, range, and
  * quartiles for a set of numeric columns, emitted long-format (one row
  * per column).
  *
  * All statistics for all columns are computed in ONE aggregation over
  * the table - a single scan, partial aggregation map-side - and the
  * wide 1-row result is unpivoted driver-free with explode.
  */
object Profile {

  /** Exact profile via `countDistinct`/`percentile` - SMALL-FRAME path
    * only. `percentile` is an ObjectHashAggregate whose buffer holds a
    * value->count map per column, merged on one final reducer: linear
    * but with a huge constant and OOM-bait on high-cardinality columns.
    * Kept for narrow frames and as the semantics reference;
    * [[summarizeDistributed]] is the benched/scale path and returns the
    * same rows bit-for-bit for integer-valued columns. */
  def summarize(df: DataFrame, numericCols: Seq[String]): DataFrame = {
    require(numericCols.nonEmpty, "no columns to profile")
    val aggs = numericCols.flatMap { c =>
      val d = col(c).cast("double")
      Seq(
        count(lit(1)).as(s"${c}__n"),
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(d).as(s"${c}__min"),
        max(d).as(s"${c}__max"),
        percentile(d, lit(0.25)).as(s"${c}__p25"),
        percentile(d, lit(0.5)).as(s"${c}__p50"),
        percentile(d, lit(0.75)).as(s"${c}__p75"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(numericCols.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"${c}__n").as("n_rows"),
        (col(s"${c}__n") - col(s"${c}__nn")).as("n_null"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"),
        col(s"${c}__p25").cast("double").as("p25"),
        col(s"${c}__p50").cast("double").as("p50"),
        col(s"${c}__p75").cast("double").as("p75"))
    }: _*)
    one.select(explode(entries).as("p")).select(col("p.*"))
  }

  /** Distributed EXACT profile - the 100 TB exact path. Same output
    * schema and the same values as [[summarize]] for columns whose
    * values are exactly representable in double (|v| <= 2^53 for
    * integer columns; quartile interpolation at dyadic fractions is
    * then exact). The caveat covers n_distinct too: this path counts
    * distinct DOUBLE-CAST values (the histogram key), while
    * [[summarize]] counts distinct original values - a long column
    * with magnitude beyond 2^53 can collapse neighbors under the cast
    * and report fewer distincts here. No per-column value-map
    * aggregation buffer anywhere in the plan:
    *
    *   1. one scan explodes (col_name, value) pairs for all profiled
    *      columns, then a partial-aggregable `groupBy(col_name, v)`
    *      collapses the corpus to its value histogram - the only
    *      corpus-sized shuffle;
    *   2. count/null/distinct/min/max fold out of the histogram with a
    *      plain hash aggregation (|cols| result rows);
    *   3. the ordered cumulative count over each column's histogram
    *      runs through [[ShardedPrefixSum]] (parallel within-shard
    *      windows + broadcast shard offsets - no single-task-per-column
    *      window, no spill-prone whole-column buffer);
    *   4. each quartile's interpolation neighbors are the histogram
    *      rows whose [cum, cum+cnt) span covers rank floor((nn-1)p) /
    *      ceil((nn-1)p) - found with one broadcast join against the
    *      3x|cols|-row rank-target frame - and the final interpolation
    *      `v_lo + frac*(v_hi - v_lo)` is exactly `percentile`'s
    *      formula.
    *
    * All-null columns yield null quartiles/min/max, matching
    * [[summarize]]. */
  def summarizeDistributed(df: DataFrame, numericCols: Seq[String],
                           numShards: Int = 0): DataFrame = {
    require(numericCols.nonEmpty, "no columns to profile")
    val pairs = array(numericCols.map { c =>
      struct(lit(c).as("col_name"), col(c).cast("double").as("v"))
    }: _*)
    val vc = df.select(explode(pairs).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.v").as("v"))
      .groupBy(col("col_name"), col("v")).agg(count(lit(1)).as("cnt"))
    val stats = vc.groupBy(col("col_name")).agg(
      sum(col("cnt")).as("n_rows"),
      coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
      count(col("v")).as("n_distinct"),
      min(col("v")).as("min_v"),
      max(col("v")).as("max_v"))
    // Rank targets: 0-based positions (nn-1)*p over the sorted non-null
    // values, exactly `percentile`'s definition. 3x|cols| rows.
    val nn = (col("n_rows") - col("n_null")).cast("double")
    val targets = stats.select(col("col_name").as("t_col"),
        explode(array(Seq(0.25, 0.5, 0.75).map { p =>
          val h = (nn - lit(1.0)) * lit(p)
          struct(lit(p).as("p"), floor(h).cast("long").as("lo"),
            ceil(h).cast("long").as("hi"), (h - floor(h)).as("frac"))
        }: _*)).as("t"))
      .select(col("t_col"), col("t.p").as("p"), col("t.lo").as("lo"),
        col("t.hi").as("hi"), col("t.frac").as("frac"))
      .filter(col("lo") >= 0) // nn == 0: no quantiles
    val cum = ShardedPrefixSum.cumBefore(vc.filter(col("v").isNotNull),
        "cnt", "col_name", "v", numShards, "cum0")
      .withColumn("cum1", col("cum0") + col("cnt"))
    val coversLo = col("lo") >= col("cum0") && col("lo") < col("cum1")
    val coversHi = col("hi") >= col("cum0") && col("hi") < col("cum1")
    val quants = cum
      .join(broadcast(targets),
        col("col_name") === col("t_col") && (coversLo || coversHi))
      .groupBy(col("col_name"), col("p"))
      .agg(max(when(coversLo, col("v"))).as("v_lo"),
        max(when(coversHi, col("v"))).as("v_hi"),
        first(col("frac")).as("frac"))
      .withColumn("q", col("v_lo") + col("frac") * (col("v_hi") - col("v_lo")))
    val pcols = quants.groupBy(col("col_name")).agg(
      max(when(col("p") === 0.25, col("q"))).as("p25"),
      max(when(col("p") === 0.5, col("q"))).as("p50"),
      max(when(col("p") === 0.75, col("q"))).as("p75"))
    stats.join(pcols, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_v"), col("max_v"),
        col("p25"), col("p50"), col("p75"))
  }
}
