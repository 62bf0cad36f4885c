package graft.array

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coordinate-form distributed 2-D matrix: a DataFrame of cells
  * `(i: Long, j: Long, v: Double)`.
  *
  * This re-expresses the reference's `ZappyArray` surface (lasersonlab/zappy
  * `zappy/base.py`: a row-chunked NumPy ndarray executed per-block on Spark
  * RDDs) Spark-first instead of porting the block executor:
  *  - elementwise ufuncs are Catalyst column expressions (whole-stage
  *    codegen, no UDFs);
  *  - axis reductions are hash aggregates with map-side partial agg;
  *  - row ops (scanpy filter_cells, normalize_per_cell, Pearson
  *    residuals, the PCA row grouping) read [[byRow]], the cells
  *    hash-partitioned on `i` to an explicit count, and take row sums as
  *    a window over it — zappy's per-row-chunk block ops in coordinate
  *    form. A chain of row ops shares that one exchange:
  *    `EnsureRequirements` drops a repartition whose input already has
  *    the same partitioning;
  *  - NumPy-style vector broadcasting is a broadcast join against a tiny
  *    (ncols- or nrows-sized) vector table;
  *  - boolean indexing / slicing are filters that push to the scan;
  *  - matmul shuffles only on the contraction key;
  *  - rechunking is `repartition` on a block id — Spark's partitioner is
  *    the chunk grid.
  *
  * At 100 TB the cell table is just a big fact table: everything here is a
  * standard scan/agg/join shape that AQE + Tungsten already scale.
  */
final case class ZMatrix(cells: DataFrame) {

  private def sel(v: Column): DataFrame = cells.select(col("i"), col("j"), v.as("v"))

  /** The cells hash-partitioned on `i` into [[graft.Shuffle.width]]
    * partitions: the input of the row-sum ops below and of the PCA row
    * grouping ([[Pca]]). The explicit count makes the shuffle
    * `REPARTITION_BY_NUM`, which AQE does not coalesce into one task.
    * The layout is not taken from the source (`readSparse` builds cells
    * chunk by chunk): a `localCheckpoint`ed frame reports
    * `UnknownPartitioning`, so a repartition there is lost at the first
    * checkpoint; here it is paid once per plan. */
  private[graft] def byRow: DataFrame =
    cells.repartition(graft.Shuffle.width(cells.sparkSession), col("i"))

  /** [[byRow]] plus `_rs`, each cell's row sum, as a window over the row —
    * no aggregate to join back. Cells with a null `i` are dropped, as an
    * inner or semi join on `i` drops them. */
  private def withRowSum: DataFrame =
    byRow.filter(col("i").isNotNull)
      .withColumn("_rs", sum(col("v")).over(Window.partitionBy(col("i"))))

  // ---- elementwise ufuncs (zappy: log1p/expm1/exp/sqrt/abs/negative) ----
  def mapValues(f: Column => Column): ZMatrix = ZMatrix(sel(f(col("v"))))
  def log1p_ : ZMatrix = mapValues(log1p)
  def expm1_ : ZMatrix = mapValues(expm1)
  def exp_   : ZMatrix = mapValues(exp)
  def sqrt_  : ZMatrix = mapValues(sqrt)
  def abs_   : ZMatrix = mapValues(abs)
  def neg    : ZMatrix = mapValues(c => -c)
  def pow_(p: Double): ZMatrix = mapValues(pow(_, p))
  def sign_  : ZMatrix = mapValues(signum)
  def round_ : ZMatrix = mapValues(round(_, 0))
  def log2_  : ZMatrix = mapValues(log2)
  def log10_ : ZMatrix = mapValues(log10)
  def tanh_  : ZMatrix = mapValues(tanh)
  def square : ZMatrix = mapValues(c => c * c)
  /** numpy reciprocal; 1/0 is null under the oracle's x/0 rule (ANSI-safe). */
  def reciprocal: ZMatrix = mapValues(c => try_divide(lit(1.0), c))
  /** logistic sigmoid 1/(1+e^−x) — the NN-flavored ufunc zappy recipes use. */
  def sigmoid: ZMatrix = mapValues(c => lit(1.0) / (lit(1.0) + exp(-c)))
  def clip(lo: Double, hi: Double): ZMatrix = mapValues(c => least(greatest(c, lit(lo)), lit(hi)))
  def maximum(sc: Double): ZMatrix = mapValues(c => greatest(c, lit(sc)))
  def minimum(sc: Double): ZMatrix = mapValues(c => least(c, lit(sc)))

  // ---- scalar arithmetic (NumPy scalar broadcasting) ----
  def +(sc: Double): ZMatrix = mapValues(_ + sc)
  def -(sc: Double): ZMatrix = mapValues(_ - sc)
  def *(sc: Double): ZMatrix = mapValues(_ * sc)
  def /(sc: Double): ZMatrix = mapValues(_ / sc)
  def affine(a: Double, b: Double): ZMatrix = mapValues(c => c * a + b)
  def floorDiv(sc: Double): ZMatrix = mapValues(c => floor(c / sc).cast("double"))
  def mod_(sc: Double): ZMatrix = mapValues(c => c - floor(c / sc) * sc) // NumPy mod (sign of divisor)

  // ---- comparison ufuncs -> 0/1 mask (zappy boolean arrays) ----
  def gt(sc: Double): ZMatrix  = mapValues(c => when(c > sc, 1.0).otherwise(0.0))
  def lt(sc: Double): ZMatrix  = mapValues(c => when(c < sc, 1.0).otherwise(0.0))
  def geq(sc: Double): ZMatrix = mapValues(c => when(c >= sc, 1.0).otherwise(0.0))
  def eqv(sc: Double): ZMatrix = mapValues(c => when(c === sc, 1.0).otherwise(0.0))

  /** Elementwise combine with an aligned matrix (same coordinates):
    * inner join on (i, j). Co-partitioning on (i, j) makes this a single
    * shuffle; with bucketed storage it would be shuffle-free. */
  def zip(other: ZMatrix)(f: (Column, Column) => Column): ZMatrix = {
    val l = cells.as("l"); val r = other.cells.as("r")
    ZMatrix(l.join(r, col("l.i") === col("r.i") && col("l.j") === col("r.j"))
      .select(col("l.i").as("i"), col("l.j").as("j"), f(col("l.v"), col("r.v")).as("v")))
  }
  def +(other: ZMatrix): ZMatrix = zip(other)(_ + _)
  def *(other: ZMatrix): ZMatrix = zip(other)(_ * _)

  /** Elementwise combine at the UNION footprint (numpy dense semantics
    * with the sparse zero-fill convention): full-outer join on (i, j),
    * each missing side reads as 0.0. The inner [[zip]] is the right tool
    * when both operands share a footprint (the A5 stored-cells contract);
    * this one is required the moment an op mixes footprints — np.where,
    * X − Y with different sparsity, masked assignment. Same single
    * (i, j) shuffle shape as zip; bucketed storage co-locates it. */
  def zipOuter(other: ZMatrix)(f: (Column, Column) => Column): ZMatrix = {
    val l = cells.as("l"); val r = other.cells.as("r")
    ZMatrix(l.join(r, col("l.i") === col("r.i") && col("l.j") === col("r.j"), "full_outer")
      .select(coalesce(col("l.i"), col("r.i")).as("i"),
              coalesce(col("l.j"), col("r.j")).as("j"),
              f(coalesce(col("l.v"), lit(0.0)), coalesce(col("r.v"), lit(0.0))).as("v")))
  }

  /** A53: np.where(cond(X), X, Y) — the ternary select, at the union
    * footprint (cells where BOTH sides are absent are dense zeros either
    * way and stay unstored). cond sees the zero-filled X value, exactly
    * numpy's elementwise broadcast of the condition. */
  def where(other: ZMatrix)(cond: Column => Column): ZMatrix =
    zipOuter(other)((a, b) => when(cond(a), a).otherwise(b))

  /** NumPy row-vector broadcasting: `X op vec[j]`. The vector (one row per
    * column of X) is broadcast — never a shuffle on X. */
  def broadcastOverCols(vec: DataFrame)(f: (Column, Column) => Column): ZMatrix =
    ZMatrix(cells.join(broadcast(vec.select(col("j"), col("v").as("_bv"))), Seq("j"))
      .select(col("i"), col("j"), f(col("v"), col("_bv")).as("v")))

  /** NumPy col-vector broadcasting: `X op vec[i]`. At scale the i-vector can
    * be fact-sized, so this is a plain (shuffle) join, not a broadcast. */
  def overRows(vec: DataFrame)(f: (Column, Column) => Column): ZMatrix =
    ZMatrix(cells.join(vec.select(col("i"), col("v").as("_bv")), Seq("i"))
      .select(col("i"), col("j"), f(col("v"), col("_bv")).as("v")))

  // ---- reductions (zappy sum/mean/var with axis=0/1/None) ----
  /** Per-column aggregates. Variance uses the explicit moment formula over
    * exact sums so results are bit-deterministic across engines. */
  def aggAxis0: DataFrame =
    cells.groupBy(col("j")).agg(
      sum(col("v")).as("sum_v"),
      count(lit(1)).as("n"),
      sum(col("v") * col("v")).as("_ss"))
      .select(col("j"), col("sum_v"), col("n"),
        round(col("sum_v") / col("n"), 6).as("mean_v"),
        (round((col("_ss") - col("sum_v") * col("sum_v") / col("n")) / col("n"), 6) + 0.0).as("var_v"))

  /** np.average(axis=0, weights=w) over stored cells: weighted column
    * mean with a per-ROW weight expression (function of i). Stored
    * values are exact-integer doubles and the weights exact integers,
    * so both sums are order-exact; the one division rounds identically
    * in both engines (PARITY class 2, 6dp). */
  def weightedMeanAxis0(w: Column): DataFrame =
    cells.groupBy(col("j"))
      .agg((round(sum(col("v") * w) / sum(w), 6) + 0.0).as("v"))

  /** A54: NaN-aware axis-0 reductions (np.nansum / nanmean + the NaN
    * count) at stored cells: NaN cells leave the numerator AND the
    * denominator (numpy's nan* contract), and are counted separately so
    * a consumer sees the missingness it is averaging around. Same ONE
    * hash-aggregate shape as A7 — isnan is a codegen'd predicate inside
    * the aggregate, never a separate pre-filter pass. An all-NaN column
    * yields NULL mean (numpy warns and returns NaN; NULL is the
    * relational spelling both engines share). */
  def nanAggAxis0: DataFrame = {
    val ok = !isnan(col("v"))
    cells.groupBy(col("j")).agg(
        sum(when(ok, col("v")).otherwise(0.0)).as("nansum"),
        count(when(ok, 1)).as("n_ok"),
        count(when(!ok, 1)).as("n_nan"))
      .select(col("j"), col("nansum"), col("n_ok"), col("n_nan"),
        when(col("n_ok") > 0, round(col("nansum") / col("n_ok"), 6))
          .as("nanmean"))
  }

  def sumAxis0: DataFrame = cells.groupBy(col("j")).agg(sum(col("v")).as("v"))
  def meanAxis0: DataFrame = cells.groupBy(col("j")).agg((sum(col("v")) / count(lit(1))).as("v"))
  def minAxis0: DataFrame = cells.groupBy(col("j")).agg(min(col("v")).as("v"))
  def maxAxis0: DataFrame = cells.groupBy(col("j")).agg(max(col("v")).as("v"))
  def minAxis1: DataFrame = cells.groupBy(col("i")).agg(min(col("v")).as("v"))
  def maxAxis1: DataFrame = cells.groupBy(col("i")).agg(max(col("v")).as("v"))

  /** NumPy any/all over a 0/1 mask matrix, per row. */
  def anyAxis1: DataFrame = cells.groupBy(col("i")).agg((max(col("v")) > 0).as("v"))
  def allAxis1: DataFrame = cells.groupBy(col("i")).agg((min(col("v")) > 0).as("v"))

  /** Exact median per column (sort-based linear interpolation, the
    * NumPy/quantile_cont definition). */
  def medianAxis0: DataFrame =
    cells.groupBy(col("j")).agg(round(expr("percentile(v, 0.5)"), 4).as("v"))

  /** Exact q-quantiles per column — numpy quantile(axis=0) with linear
    * interpolation (Spark `percentile` = DuckDB `quantile_cont`).
    * Generalizes [[medianAxis0]]; ALL requested quantiles come from ONE
    * aggregate pass (percentile's array form sorts each group once, not
    * once per q). Output columns `q25`-style, 4dp-rounded for
    * deterministic cross-engine ranking. */
  def quantileAxis0(qs: Seq[Double]): DataFrame = quantileBy("j", qs)

  /** numpy quantile(axis=1): the per-ROW twin of [[quantileAxis0]] —
    * same one-aggregate array-percentile pass, grouped by i. Same
    * stored-cells caveat. */
  def quantileAxis1(qs: Seq[Double]): DataFrame = quantileBy("i", qs)

  private def quantileBy(group: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0, 1], got $qs")
    // exact-decimal labels (q25, q12_5): a percent-ROUNDED label would
    // collide for close quantiles (0.125 and 0.13 both "q13") and
    // mislabel non-integer percents — duplicate columns break any
    // downstream select/write with AMBIGUOUS_REFERENCE
    val labels = qs.map(q => "q" + (BigDecimal(q.toString) * 100)
      .underlying.stripTrailingZeros.toPlainString.replace(".", "_"))
    require(labels.distinct.size == labels.size,
      s"duplicate quantiles produce duplicate columns: $qs")
    val arr = qs.mkString("array(", ", ", ")")
    cells.groupBy(col(group)).agg(expr(s"percentile(v, $arr)").as("_qs"))
      .select(col(group) +: qs.zip(labels).zipWithIndex.map { case ((_, label), ix) =>
        (round(element_at(col("_qs"), ix + 1), 4) + 0.0).as(label)
      }: _*)
  }

  /** NumPy argmax(axis=0) over STORED cells: per column, the row index of
    * the max value (ties → smallest i). One hash aggregate with map-side
    * combine — the max is taken over (v, −i) structs (Spark orders structs
    * field-by-field), so no join, window, or second pass. Sparse
    * divergence: implicit zeros are not candidates, so on a column whose
    * stored values are all negative, dense NumPy would return a zero cell
    * instead. */
  def argmaxAxis0: DataFrame =
    cells.groupBy(col("j"))
      .agg(max(struct(col("v"), (-col("i")).as("ni"))).as("_m"))
      .select(col("j"), (-col("_m.ni")).as("argmax_i"), col("_m.v").as("max_v"))

  /** NumPy argmax(axis=1): per row, the column index of the max stored
    * value (ties → smallest j). Same struct-max single aggregate as
    * [[argmaxAxis0]], grouped by i. */
  def argmaxAxis1: DataFrame =
    cells.groupBy(col("i"))
      .agg(max(struct(col("v"), (-col("j")).as("nj"))).as("_m"))
      .select(col("i"), (-col("_m.nj")).as("argmax_j"), col("_m.v").as("max_v"))

  /** NumPy argmin(axis=0) over STORED cells — min(struct(v, i)) picks the
    * smallest value, ties → smallest i, in one hash aggregate. Same sparse
    * caveat as [[argmaxAxis0]] with the sign flipped: implicit zeros are
    * not candidates, so all-positive columns diverge from dense NumPy. */
  def argminAxis0: DataFrame =
    cells.groupBy(col("j"))
      .agg(min(struct(col("v"), col("i"))).as("_m"))
      .select(col("j"), col("_m.i").as("argmin_i"), col("_m.v").as("min_v"))

  /** NumPy cumsum(axis=1) sampled at stored cells: running sum across j
    * within each row. The window partitions by i — parallel across rows,
    * per-partition work bounded by ncols. Implicit zeros don't alter the
    * partial sums, so stored-position values equal the dense cumsum at the
    * same coordinates. */
  def cumsumAxis1: ZMatrix = {
    ZMatrix(cells.select(col("i"), col("j"),
      sum(col("v")).over(Window.partitionBy(col("i")).orderBy(col("j"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("v")))
  }

  /** Rolling mean across j within each row (pandas rolling(window).mean
    * / scipy uniform_filter1d sampled at stored cells): the window frame
    * is the previous `window−1` STORED cells plus the current one, per
    * the cumsum sampling convention. Partitioned by row — parallel at
    * any height, per-partition work bounded by ncols. Stored values are
    * exact-integer doubles, so the frame sum is order-exact and the one
    * division rounds identically in both engines (PARITY class 2). */
  def rollingMeanAxis1(window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    cells.select(col("i"), col("j"),
      (round(avg(col("v")).over(Window.partitionBy(col("i")).orderBy(col("j"))
        .rowsBetween(-(window - 1), Window.currentRow)), 4) + 0.0).as("v"))
  }

  /** np.diff along axis=1 at stored cells: each cell's value minus the
    * previous STORED cell's in the same row (n−1 outputs per n-cell
    * row). Exact double subtraction on identical inputs — bit-stable in
    * both engines. */
  def diffAxis1: DataFrame = {
    cells.select(col("i"), col("j"),
        (col("v") - lag(col("v"), 1).over(
          Window.partitionBy(col("i")).orderBy(col("j")))).as("v"))
      .filter(col("v").isNotNull)
  }

  /** np.argsort-order RANK along axis 0: each stored cell's 1-based rank
    * within its column under the total order (v, i) — ties to the
    * smaller row, so the rank is exact and engine-stable.
    *
    * TWO-LEVEL layout (the sf10 lesson): a plain `partitionBy(j)` window
    * caps parallelism at ncols and sorts a whole column per task —
    * untenable for wide-row matrices (ncols < cores) at cluster scale.
    * Instead each column splits into value-range buckets at APPROXIMATE
    * per-column percentile boundaries (balance only — never
    * correctness), ranks locally within (j, bucket), and adds the
    * bucket's offset from the (j, bucket) count table (ncols·nBuckets
    * rows — the only small-parallelism window runs over THAT). The
    * result is identical to the single-window rank (same oracle). */
  def rankAxis0(nBuckets: Int = 32,
                twoLevelBound: Long = 64L << 20): DataFrame = {
    // SIZE-CONDITIONAL (the q43 rule): with many small columns the plain
    // per-column window is already parallel and cheapest; the two-level
    // form pays off only once one column's cells exceed a task-sized
    // bound. The decider is one ncols-row aggregate.
    val maxCol = cells.groupBy(col("j")).count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    if (maxCol <= twoLevelBound)
      return cells.select(col("i"), col("j"),
        row_number().over(Window.partitionBy(col("j"))
          .orderBy(col("v"), col("i"))).cast("long").as("rk"))
    val pcts = (1 until nBuckets).map(k => k.toDouble / nBuckets).mkString(",")
    val bounds = cells.groupBy(col("j"))
      .agg(expr(s"approx_percentile(v, array($pcts), 1000)").as("_bs"))
    val binned = cells.join(broadcast(bounds), Seq("j"))
      .withColumn("_bin", expr("size(filter(_bs, b -> b < v))")).drop("_bs")
    val counts = binned.groupBy(col("j"), col("_bin")).agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.partitionBy(col("j")).orderBy(col("_bin"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("j"), col("_bin"), col("_off"))
    binned.join(broadcast(counts), Seq("j", "_bin"))
      .select(col("i"), col("j"),
        (col("_off") + row_number().over(Window.partitionBy(col("j"), col("_bin"))
          .orderBy(col("v"), col("i")))).cast("long").as("rk"))
  }

  /** np.argsort order along axis=1: per-cell 1-based rank WITHIN ITS ROW
    * (value asc, j tie-break) — the per-sample feature ranking (e.g.
    * per-cell gene rank before a rank-based normalization). A row holds
    * at most ncols stored cells, so the i-partitioned window is
    * task-bounded at ANY corpus size — rows scale in count, not width;
    * no two-level form needed (contrast [[rankAxis0]]). */
  def rankAxis1(): DataFrame = {
    cells.select(col("i"), col("j"),
      row_number().over(Window.partitionBy(col("i"))
        .orderBy(col("v"), col("j"))).cast("long").as("rk"))
  }

  /** cumsum(axis=0): the column-direction twin of [[cumsumAxis1]],
    * in the SAME two-level shape as [[rankAxis0]] but with deterministic
    * row-id blocks (the prefix order is i, which needs no sampling):
    * within-(j, block) running sum + the block's offset from the
    * (j, block) totals table — the packSequences hierarchical prefix
    * sum. NOTE the float contract: blocked addition REGROUPS the sum
    * ((block totals) + local) vs the oracle's strictly sequential order —
    * bit-equal only when cell values are integer-valued doubles (this
    * corpus; any grouping of exact integers is exact). For general float
    * data the two differ by ulps; callers needing the sequential
    * semantics at any cost use a 1-block size. */
  def cumsumAxis0(blockRows: Long = 65536L,
                  twoLevelBound: Long = 64L << 20): ZMatrix = {
    val maxCol = cells.groupBy(col("j")).count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    if (maxCol <= twoLevelBound)
      return ZMatrix(cells.select(col("i"), col("j"),
        sum(col("v")).over(Window.partitionBy(col("j")).orderBy(col("i"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("v")))
    val b = cells.withColumn("_blk", (col("i") / blockRows).cast("long"))
    val local = Window.partitionBy(col("j"), col("_blk")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = b.groupBy(col("j"), col("_blk")).agg(sum(col("v")).as("_bt"))
      .withColumn("_boff", coalesce(sum(col("_bt")).over(
        Window.partitionBy(col("j")).orderBy(col("_blk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .select(col("j"), col("_blk"), col("_boff"))
    ZMatrix(b.join(broadcast(offsets), Seq("j", "_blk"))
      .select(col("i"), col("j"),
        (col("_boff") + sum(col("v")).over(local)).as("v")))
  }

  def aggAxis1: DataFrame =
    cells.groupBy(col("i")).agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))

  /** Per-row mean/variance (numpy var(axis=1) over stored cells) — the
    * same exact-moment formula as [[aggAxis0]], grouped by i. */
  def varAxis1: DataFrame =
    cells.groupBy(col("i")).agg(
      sum(col("v")).as("_s"), count(lit(1)).as("_n"),
      sum(col("v") * col("v")).as("_ss"))
      .select(col("i"),
        round(col("_s") / col("_n"), 6).as("mean_v"),
        (round((col("_ss") - col("_s") * col("_s") / col("_n")) / col("_n"), 6) + 0.0)
          .as("var_v"))
  def sumAxis1: DataFrame = cells.groupBy(col("i")).agg(sum(col("v")).as("v"))

  def aggFull: DataFrame =
    cells.agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
      .select(col("sum_v"), col("n"), round(col("sum_v") / col("n"), 6).as("mean_v"))

  /** numpy.histogram over the STORED values: `nbins` uniform bins on
    * [lo, hi], values outside the range excluded, last bin right-INCLUSIVE
    * (the numpy edge rule). One map-side-combined aggregate; empty bins
    * materialize via a left join from the parameter-sized bin range.
    * Callers should pick lo/hi/nbins so the bin width is exactly
    * representable (e.g. integral) — the floor((v-lo)/width) edge math is
    * then bit-identical across engines. */
  def histogram(lo: Double, hi: Double, nbins: Int): DataFrame = {
    require(nbins > 0 && hi > lo, s"need nbins > 0 and hi > lo, got [$lo, $hi] x $nbins")
    val width = (hi - lo) / nbins
    val counts = cells.filter(col("v") >= lo && col("v") <= hi)
      .groupBy(least(floor((col("v") - lo) / width).cast("long"), lit(nbins - 1L)).as("bin"))
      .agg(count(lit(1)).as("_n"))
    cells.sparkSession.range(nbins).toDF("bin")
      .join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("_n"), lit(0L)).as("n"))
  }

  /** numpy.bincount over INTEGER-valued stored cells: occurrence count
    * per distinct value (the sparse form — absent values simply have no
    * row, where numpy would emit a zero slot; minlength padding is the
    * caller's left-join). One map-side-combined hash aggregate whose
    * output is value-range-sized, not corpus-sized. Values must be
    * integral (zappy arrays of counts); the cast is exact for them. */
  def bincount(): DataFrame =
    cells.groupBy(col("v").cast("long").as("value"))
      .agg(count(lit(1)).as("n"))

  /** numpy `digitize(x, edges)` for UNIFORM edges lo + k·w (right=False):
    * per stored cell, the index of the bin x falls in — 0 below the first
    * edge, nEdges at/above the last, else floor((x−lo)/w)+1. With
    * integer-valued cells and integer lo/w every step is exact (PARITY
    * class 1/2); a pure map over one scan, no shuffle. */
  def digitize(lo: Double, w: Double, nEdges: Int): DataFrame = {
    require(nEdges > 0 && w > 0, s"need nEdges > 0 and w > 0, got $nEdges/$w")
    cells.select(col("i"), col("j"),
      when(col("v") < lo, 0L)
        .otherwise(least(lit(nEdges.toLong),
          floor((col("v") - lo) / w).cast("long") + 1L)).as("bin"))
  }

  // ---- indexing (zappy X[mask, :], slices) ----
  /** Boolean row indexing where the mask is derived from a row aggregate
    * (scanpy filter_cells): the row sum is a window over [[byRow]], so
    * the cells are filtered where they sit, with no row-id table to join
    * back. The output keeps the `i`-partitioning, so a following row op
    * plans no second exchange. */
  def filterRowsBySum(pred: Column => Column): ZMatrix =
    ZMatrix(withRowSum.filter(pred(col("_rs"))).drop("_rs"))

  /** Boolean column indexing from a column aggregate (scanpy filter_genes):
    * the qualifying-column set is tiny (ncols), so the semi-join broadcasts. */
  def filterColsByMean(pred: Column => Column): ZMatrix = {
    val keep = cells.groupBy(col("j"))
      .agg((sum(col("v")) / count(lit(1))).as("_cm"))
      .filter(pred(col("_cm"))).select(col("j"))
    ZMatrix(cells.join(broadcast(keep), Seq("j"), "left_semi"))
  }

  /** scanpy highly_variable_genes (variance flavor): keep the `k` columns
    * with the largest DENSE per-column variance, ties → smaller j.
    * `nrows` is the matrix height (coordinate form does not store shape):
    * scanpy operates densely — implicit zeros count as zeros — so moments
    * use n = nrows, exactly the [[Pca.fit]] contract the recipe chain
    * pairs this with (a stored-cell count(*) would rank sparse columns by
    * a different variance than the reference). The column-stats table is
    * ncols rows, so ranking is a broadcast-scale window and the keep-set
    * joins back as a broadcast semi join — the fact-side cost is one scan
    * + one aggregate, same as any column filter. Variance is rounded to
    * 6dp BEFORE ranking so the selection can never flip on unordered-sum
    * float noise (the determinism rule every model-producing op follows). */
  def filterColsTopVar(k: Int, nrows: Long): ZMatrix = {
    val n = lit(nrows.toDouble)
    val stats = cells.groupBy(col("j")).agg(
        sum(col("v")).as("_s"), sum(col("v") * col("v")).as("_ss"))
      .select(col("j"),
        (round((col("_ss") - col("_s") * col("_s") / n) / n, 6) + 0.0).as("_var"))
    val keep = stats
      .withColumn("_rk", row_number().over(Window.orderBy(col("_var").desc, col("j"))))
      .filter(col("_rk") <= k).select(col("j"))
    ZMatrix(cells.join(broadcast(keep), Seq("j"), "left_semi"))
  }

  /** [[filterColsTopVar]] + [[scaleCols]] FUSED on one column-stats pass:
    * both stages aggregate the same per-column (Σv, n_stored, Σv²) — and
    * dropping columns never changes a surviving column's cells, so the
    * scale μ/σ computed pre-filter equal the ones scaleCols would compute
    * post-filter. Run separately the recipe chain paid two full fact
    * aggregates (plus a semi join) for statistics one pass already held;
    * fused, the fact side is ONE aggregate + ONE broadcast join carrying
    * keep-set and μ/σ together. Semantics are bit-identical to the
    * composition: hvg variance on dense n = `nrows` rounded 6dp before
    * ranking (ties by j), scale moments on stored-cell counts, the same
    * greatest()/zero-σ guards, same `dp` output grid — the generated
    * arr_recipe_full oracle re-derives the composed form and stays green. */
  def hvgScale(k: Int, nrows: Long, dp: Int = 6): ZMatrix = {
    val n = lit(nrows.toDouble)
    val stats = cells.groupBy(col("j")).agg(
        sum(col("v")).as("_s"), count(lit(1)).as("_n"),
        sum(col("v") * col("v")).as("_ss"))
      .select(col("j"), col("_s"), col("_n"), col("_ss"),
        (round((col("_ss") - col("_s") * col("_s") / n) / n, 6) + 0.0).as("_var"))
    val kept = stats
      .withColumn("_rk", row_number().over(Window.orderBy(col("_var").desc, col("j"))))
      .filter(col("_rk") <= k)
      .select(col("j"), (col("_s") / col("_n")).as("_mu"),
        sqrt(greatest((col("_ss") - col("_s") * col("_s") / col("_n")) / col("_n"),
          lit(0.0))).as("_sd"))
    // inner join on the kept columns = the semi filter and the stats join
    // in one broadcast
    ZMatrix(cells.join(broadcast(kept), Seq("j"))
      .select(col("i"), col("j"),
        when(col("_sd") === 0.0, 0.0)
          .otherwise(round((col("v") - col("_mu")) / col("_sd"), dp) + 0.0).as("v")))
  }

  /** scanpy `sc.get.aggregate` / pseudobulk: aggregate rows by an obs
    * label. `labels` is `(i: Long, g)` — one row per matrix row, the obs
    * index — so group sizes (and therefore the DENSE mean, where implicit
    * zeros count) come from the labels table, not from stored-cell counts.
    * Shape: one shuffle join on i (both sides fact-sized; co-partitioning
    * on i makes it a single co-located exchange) + one hash aggregate on
    * (g, j) with map-side combine + a groups×1 broadcast join for the
    * sizes. Output `(g, j, sum_v, n_rows, mean_v)`; `n_rows` is the group
    * height, `mean_v = sum_v / n_rows` (missing coordinates are zeros —
    * the scanpy contract, same as [[filterColsTopVar]]). */
  def groupRowsBy(labels: DataFrame): DataFrame = {
    val lab = labels.select(col("i"), col("g"))
    val sizes = lab.groupBy(col("g")).agg(count(lit(1)).as("n_rows"))
    cells.join(lab, Seq("i"))
      .groupBy(col("g"), col("j")).agg(sum(col("v")).as("sum_v"))
      .join(broadcast(sizes), Seq("g"))
      .select(col("g"), col("j"), col("sum_v"), col("n_rows"),
        (round(col("sum_v") / col("n_rows"), 6) + 0.0).as("mean_v"))
  }

  /** Dense Pearson correlation between every column pair a < b (the
    * gene–gene correlation matrix). Implicit zeros are VALUES (dense
    * semantics), which is exactly what makes this cheap sparse-side: the
    * cross-moment Σᵢ x_a x_b only collects where BOTH columns store a
    * cell (a zero factor kills the product), so it is the [[gram]]
    * self-join on i; the marginal moments take `nrows` as the dense
    * height. The output is inherently ncols²-sized, so the pair frame and
    * both marginal joins are broadcast-scale; the fact-side cost is one
    * scan + one i-keyed self-join, the same shape as matmul. A pair with
    * no co-occurring rows still appears (Σ x_a x_b = 0). Zero-variance
    * columns yield null (0/0), the SQL corr() convention. */
  def corrCols(nrows: Long): DataFrame = {
    val n = lit(nrows.toDouble)
    // three consumers of the cell matrix (marginals + BOTH self-join
    // sides) would each replay the upstream construction lineage —
    // measured 10.5 s at sf1 vs 4.7 s for the two-branch gram. One
    // localCheckpoint materializes the cells once (the ledger-item-9
    // pattern); at cluster scale this is one cached corpus pass feeding
    // three key-hashed consumers instead of three source scans.
    val c = cells.localCheckpoint()
    val marg = c.groupBy(col("j")).agg(
      sum(col("v")).as("_s"), sum(col("v") * col("v")).as("_ss"))
    val a = c.select(col("i"), col("j").as("a"), col("v").as("av"))
    val b = c.select(col("i"), col("j").as("b"), col("v").as("bv"))
    val cross = a.join(b, Seq("i")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(sum(col("av") * col("bv")).as("_sab"))
    val pairs = marg.select(col("j").as("a"), col("_s").as("_sa"), col("_ss").as("_ssa"))
      .crossJoin(broadcast(marg.select(col("j").as("b"), col("_s").as("_sb"), col("_ss").as("_ssb"))))
      .filter(col("a") < col("b"))
    pairs.join(broadcast(cross), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        (round((coalesce(col("_sab"), lit(0.0)) - col("_sa") * col("_sb") / n) /
          (sqrt(col("_ssa") - col("_sa") * col("_sa") / n) *
           sqrt(col("_ssb") - col("_sb") * col("_sb") / n)), 6) + 0.0).as("corr"))
  }

  /** scanpy `rank_genes_groups(method="wilcoxon")`: per-column two-sample
    * Mann–Whitney rank-sum z-score (group A vs rest) with tie correction,
    * DENSE semantics — each column's `height − m_j` implicit zeros join
    * the zero tie block, so results match scipy on the densified matrix
    * without ever densifying. `groups` is `(i: Long, in_a)` covering every
    * row (the obs index — it DEFINES the dense height, the
    * [[groupRowsBy]] contract).
    *
    * A thin wrapper over [[rankGenesGroups]] (A = in_a, B = rest; keep
    * group A's rows) so the tie/rank machinery lives once — see there for
    * the plan shape, determinism, and edge rules (constant column → z
    * NaN; lfc/pts companions). Keeps the one-group proper-subset
    * `require` for the precise error message. */
  def rankGenesWilcoxon(groups: DataFrame): DataFrame = {
    val g = groups.select(col("i"), col("in_a").cast("boolean").as("_a"))
    val hdr = g.agg(count(lit(1)).as("n"),
      sum(col("_a").cast("long")).as("na")).head()
    val n = hdr.getLong(0); val na = hdr.getLong(1)
    require(na > 0 && na < n, s"group A must be a proper nonempty subset (na=$na, n=$n)")
    // thin wrapper over the all-groups form (A = in_a, B = rest), keeping
    // only group A's row per column — the two-label equality is pinned in
    // ZMatrixSpec, so the tie/rank machinery lives in ONE place
    rankGenesGroups(g.select(col("i"),
        when(col("_a"), lit("A")).otherwise(lit("B")).as("g")))
      .filter(col("g") === "A")
      .select(col("j"), col("z"), col("lfc"), col("pts"), col("pts_rest"))
  }

  /** scanpy `rank_genes_groups` over ALL groups (the scanpy default:
    * every label vs rest; [[rankGenesWilcoxon]] is its two-label special
    * case): per-column dense Mann–Whitney z with tie correction —
    * implicit zeros enter as one tie block via `n − m_j + zs_j`, so
    * results match scipy on the densified matrix without densifying. One
    * (j, v, g) stored-cell count table feeds BOTH the shared per-column
    * tie/rank machinery (its (j, v) roll-up, a cumulative window over
    * tie-table rows ≪ cells) and the per-(column, group) rank-sum
    * pieces — each row belongs to exactly one group, so group rank sums
    * need no per-group pass over the cells. Rank sums accumulate as
    * LONGS (2·rank is integral even for .5 average ranks) and tie cubes
    * as decimal(38,0), so every pre-division quantity is exact and
    * order-independent; z is the only float. A (ncols × groups) frame
    * (broadcast-scale) left-joins the per-group pieces so a group with
    * NO stored cells in a column still gets its dense z (all-zeros
    * member). Constant column → σ = 0 → z = NaN (scipy); `lfc` = log2
    * fold-change of dense means (1e-9 pseudocount), `pts`/`pts_rest` =
    * fraction of group rows with a nonzero stored value. Output
    * `(g, j, z, lfc, pts, pts_rest)`, one row per (group, column). */
  def rankGenesGroups(labels: DataFrame): DataFrame = {
    val lab = labels.select(col("i"), col("g"))
    val sizes = lab.groupBy(col("g")).agg(count(lit(1)).as("_ng"))
    val n = lab.count()
    // a single distinct label makes every group the whole population
    // (nr = 0 → silent ±Inf/NaN lfc and pts_rest); with 2+ groups every
    // group is automatically a proper nonempty subset
    require(sizes.count() >= 2,
      "rank_genes_groups needs at least 2 distinct labels (one group = no rest to test against)")
    val tg = cells.join(lab, Seq("i"))
      .groupBy(col("j"), col("v"), col("g")).agg(count(lit(1)).as("_cg"))
    val tieTab = tg.groupBy(col("j"), col("v")).agg(sum(col("_cg")).as("_cnt"))
    val w = Window.partitionBy(col("j")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = tieTab
      .withColumn("_sless", coalesce(sum(col("_cnt")).over(w), lit(0L)))
      .withColumn("_mtot", sum(col("_cnt")).over(Window.partitionBy(col("j"))))
    val dec = "decimal(38,0)"
    val perJ = ranked.groupBy(col("j")).agg(
      sum(col("_cnt")).as("_m"),
      sum(when(col("v") === 0.0, col("_cnt")).otherwise(0L)).as("_zs"),
      sum(when(col("v") < 0.0, col("_cnt")).otherwise(0L)).as("_neg"),
      sum(when(col("v") =!= 0.0,
          col("_cnt").cast(dec) * col("_cnt").cast(dec) * col("_cnt").cast(dec) -
            col("_cnt").cast(dec))
        .otherwise(lit(0L).cast(dec))).as("_t3nz"),
      sum(col("v") * col("_cnt")).as("_sumT"),
      sum(when(col("v") =!= 0.0, col("_cnt")).otherwise(0L)).as("_nz"))
    val perJG = ranked.join(tg, Seq("j", "v"))
      .groupBy(col("j"), col("g")).agg(
        sum(col("_cg")).as("_mg"),
        sum(col("v") * col("_cg")).as("_sumG"),
        sum(when(col("v") =!= 0.0, col("_cg")).otherwise(0L)).as("_nzG"),
        // rank sums stay LONG (unlike the decimal tie cubes): the total is
        // ≤ 2·n·m_g ≤ 2n², inside Long to n ≈ 2.1e9 rows — beyond any
        // obs-axis height this serves — and ANSI sum overflow fails loudly
        // rather than wrapping if that bound is ever crossed
        sum(col("_cg") * (lit(2L) * (col("_sless") +
            when(col("v") > 0.0, lit(n) - col("_mtot")).otherwise(0L)) +
          col("_cnt") +
            when(col("v") === 0.0, lit(n) - col("_mtot")).otherwise(0L) +
          lit(1L))).as("_r2aStored"))
    val zb = (lit(n) - col("_m") + col("_zs")).cast(dec)
    val ng = col("_ng").cast("double")
    val nr = lit(n.toDouble) - ng
    val muG = coalesce(col("_sumG"), lit(0.0)) / ng
    val muR = (col("_sumT") - coalesce(col("_sumG"), lit(0.0))) / nr
    perJ.crossJoin(broadcast(sizes))
      .join(perJG, Seq("j", "g"), "left")
      .withColumn("_r2a",
        coalesce(col("_r2aStored"), lit(0L)) +
          (col("_ng") - coalesce(col("_mg"), lit(0L))) *
            (lit(2L) * col("_neg") + (lit(n) - col("_m") + col("_zs")) + lit(1L)))
      .withColumn("_tsum", col("_t3nz") + (zb * zb * zb - zb))
      .withColumn("_num",
        col("_r2a").cast("double") / 2.0 - ng * lit((n + 1).toDouble) / 2.0)
      .withColumn("_den",
        sqrt(ng * nr / 12.0 *
          (lit((n + 1).toDouble) - col("_tsum").cast("double") /
            lit(n.toDouble * (n - 1).toDouble))))
      .select(col("g"), col("j"),
        when(col("_den") === 0.0, lit(Double.NaN))
          .otherwise(round(col("_num") / col("_den"), 6) + 0.0).as("z"),
        (round(log2((muG + 1e-9) / (muR + 1e-9)), 6) + 0.0).as("lfc"),
        (round(coalesce(col("_nzG"), lit(0L)).cast("double") / ng, 6) + 0.0).as("pts"),
        (round((col("_nz") - coalesce(col("_nzG"), lit(0L))).cast("double") / nr, 6) + 0.0)
          .as("pts_rest"))
  }

  /** scanpy scale: per-column standardization (x−μ_j)/σ_j. Moments come
    * from one aggregate over exact sums (bit-deterministic), the ncols-row
    * stats vector broadcasts back onto the cells. `+0.0` collapses IEEE
    * −0.0 so rounded output matches the SQL oracle byte-for-byte. */
  /** scanpy `pp.downsample_counts`, DETERMINISTIC: rows whose integer
    * count total exceeds `target` are downsampled to exactly `target` —
    * each cell keeps floor(v·target/rowsum) and the remainder goes one
    * unit apiece to the cells ranked first by (md5-hash(i:j), j), the
    * same 60-bit md5 ordering the sampling family uses, so both engines
    * allocate the identical units with no RNG. Rows at or under `target`
    * pass through; zero results drop out of the coordinate form. One
    * row-keyed shuffle (window over i); all arithmetic exact integers. */
  def downsampleCounts(target: Long): ZMatrix = {
    require(target > 0, s"target must be positive, got $target")
    val c = cells.select(col("i"), col("j"), col("v").cast("long").as("_vi"))
    val wI = Window.partitionBy(col("i"))
    val hk = graft.ops.Dedup.mdHash60(
      concat(col("i").cast("string"), lit(":"), col("j").cast("string")))
    val staged = c
      .withColumn("_s", sum(col("_vi")).over(wI))
      .withColumn("_base", expr(s"(_vi * $target) div _s"))
      .withColumn("_bsum", sum(col("_base")).over(wI))
      .withColumn("_rk", row_number().over(wI.orderBy(hk, col("j"))))
    ZMatrix(staged.select(col("i"), col("j"),
        when(col("_s") <= target, col("_vi"))
          .otherwise(col("_base") +
            when(col("_rk") <= lit(target) - col("_bsum"), 1L).otherwise(0L))
          .cast("double").as("v"))
      .filter(col("v") =!= 0.0))
  }

  /** `dp` picks the output grid: 6dp when the input values are integral
    * (column sums then bit-exact in any order — the arr_scale case), 4dp
    * when they are arbitrary floats from an upstream transcendental
    * (μ/σ inherit last-ulp sum-order noise; the coarser grid keeps the
    * cross-engine margin — the arr_recipe_scanpy precedent, PARITY §3). */
  def scaleCols(dp: Int = 6): ZMatrix = {
    val stats = cells.groupBy(col("j")).agg(
        sum(col("v")).as("_s"), count(lit(1)).as("_n"),
        sum(col("v") * col("v")).as("_ss"))
      .select(col("j"), (col("_s") / col("_n")).as("_mu"),
        // greatest(…, 0): catastrophic cancellation on a near-constant
        // column can push the moment-formula variance epsilon-negative;
        // sqrt of that is NaN (Spark) or a hard error (DuckDB oracle —
        // its twin carries the same greatest() guard)
        sqrt(greatest((col("_ss") - col("_s") * col("_s") / col("_n")) / col("_n"),
          lit(0.0))).as("_sd"))
    ZMatrix(cells.join(broadcast(stats), Seq("j"))
      .select(col("i"), col("j"),
        // zero-variance columns scale to 0 (scanpy convention), not NaN
        when(col("_sd") === 0.0, 0.0)
          .otherwise(round((col("v") - col("_mu")) / col("_sd"), dp) + 0.0).as("v")))
  }

  /** Integer-range slicing `X[i0:i1, j0:j1]` — a pushed-down range filter. */
  def slice(i0: Long, i1: Long, j0: Long, j1: Long): ZMatrix =
    ZMatrix(cells.filter(col("i") >= i0 && col("i") < i1 && col("j") >= j0 && col("j") < j1))

  /** Stack `other` BELOW this matrix — numpy vstack / anndata concat along
    * the obs axis (combining two datasets into one training matrix).
    * Coordinate form stores no shape, so the caller passes this matrix's
    * HEIGHT (max row index + 1, not a stored-row count — gap rows still
    * occupy index space); other's cells re-index to i + selfRows. The plan
    * is a UNION of the two inputs — no shuffle, no driver data; downstream
    * aggregates/joins repartition exactly as they would over either input,
    * so at 100 TB this is free concatenation, not a copy. */
  def vstack(other: ZMatrix, selfRows: Long): ZMatrix =
    ZMatrix(cells.unionByName(other.cells.select(
      (col("i") + selfRows).as("i"), col("j"), col("v"))))

  /** Stack `other` RIGHT of this matrix — numpy hstack / concat along the
    * var axis (joining two feature blocks for the same rows). `selfCols`
    * is this matrix's WIDTH; same free-union contract as [[vstack]]. */
  def hstack(other: ZMatrix, selfCols: Long): ZMatrix =
    ZMatrix(cells.unionByName(other.cells.select(
      col("i"), (col("j") + selfCols).as("j"), col("v"))))

  /** NumPy integer-array (fancy) row indexing `X[idx, :]`: output row p is
    * input row idx(p) — duplicates in `idx` repeat rows (gather semantics).
    * The index list is an O(k) parameter, so it joins as a broadcast local
    * relation; the `i`-match also prunes as an IN-list at the scan.
    * DIVERGENCE from NumPy: an out-of-range source index yields an EMPTY
    * output row, not an IndexError — under sparse COO an absent row is
    * indistinguishable from an all-zero one, so no cheap bound check
    * exists (callers that need NumPy's error must validate idx against
    * the known shape). */
  def selectRows(idx: Seq[Long]): ZMatrix = {
    val spark = cells.sparkSession
    import spark.implicits._
    val gather = broadcast(idx.zipWithIndex.map { case (src, p) => (src, p.toLong) }
      .toDF("_src", "_pos"))
    ZMatrix(cells.join(gather, col("i") === col("_src"))
      .select(col("_pos").as("i"), col("j"), col("v")))
  }

  /** NumPy fancy column indexing `X[:, idx]` — same gather, on `j`. */
  def selectCols(idx: Seq[Long]): ZMatrix = {
    val spark = cells.sparkSession
    import spark.implicits._
    val gather = broadcast(idx.zipWithIndex.map { case (src, p) => (src, p.toLong) }
      .toDF("_src", "_pos"))
    ZMatrix(cells.join(gather, col("j") === col("_src"))
      .select(col("i"), col("_pos").as("j"), col("v")))
  }

  // ---- dtype / shape ops ----
  def astypeInt: DataFrame = cells.select(col("i"), col("j"), col("v").cast("int").as("v"))

  /** zappy `astype`: cast the value column to a target dtype, keeping the
    * coordinate form. Doubles stay the in-flight representation for float
    * targets (f8/f4 — an f4 target rounds through Float); integral targets
    * truncate toward zero for in-range values. DIVERGENCE from NumPy on
    * extremes: Spark 4 runs ANSI mode, so casting NaN or an out-of-range
    * double to long/int THROWS (fail-fast) instead of NumPy's undefined
    * C-cast wrap — asserted in ZMatrixSpec ("astype to int throws on
    * NaN"). Fail-fast is the deliberate choice for a data pipeline: a
    * silent wrap corrupts downstream values. */
  def astype(dtype: String): ZMatrix = {
    val v = dtype match {
      case "f8" | "double" => col("v").cast("double")
      case "f4" | "float"  => col("v").cast("float").cast("double")
      case "i8" | "long"   => col("v").cast("long").cast("double")
      case "i4" | "int"    => col("v").cast("int").cast("double")
      case other           => throw new IllegalArgumentException(s"unsupported dtype $other")
    }
    ZMatrix(sel(v))
  }
  def transpose: ZMatrix = ZMatrix(cells.select(col("j").as("i"), col("i").as("j"), col("v")))

  /** Matmul this(i,k) × other(k,j): shuffle both sides on the contraction
    * key k only, then hash-aggregate on (i,j) with map-side combine. */
  def matmul(other: ZMatrix): ZMatrix = {
    val a = cells.select(col("i"), col("j").as("k"), col("v").as("av"))
    val b = other.cells.select(col("i").as("k"), col("j"), col("v").as("bv"))
    ZMatrix(a.join(b, Seq("k")).groupBy(col("i"), col("j"))
      .agg(sum(col("av") * col("bv")).as("v")))
  }

  /** Gram matrix XᵀX without materializing the transpose twice. Both
    * matmul sides consume the same cells; localCheckpoint materializes
    * the construction lineage once instead of replaying it per side
    * (same rationale as [[corrCols]] — measured at sf1). */
  def gram: ZMatrix = {
    val c = ZMatrix(cells.localCheckpoint())
    c.transpose.matmul(c)
  }

  /** Matrix–vector product X·w, w a driver-side PARAMETER (a principal
    * component, a feature weighting): w enters the plan as a literal
    * array — per-cell multiply + one i-aggregate with map-side combine.
    * No join, no k-shuffle: the at-scale cost is one pass over the cells.
    * Under ANSI a cell with j ≥ w.length is a hard INVALID_ARRAY_INDEX
    * error (dimension mismatch fails fast, the astype rule). Returns
    * (i, v) with v = Σ_j X[i,j]·w[j]. */
  def matvec(w: Array[Double]): DataFrame =
    cells.select(col("i"),
        (col("v") * element_at(typedlit(w.toSeq), (col("j") + 1).cast("int"))).as("_p"))
      .groupBy(col("i")).agg(sum(col("_p")).as("v"))

  /** Rechunk: repartition cells by a row-block id (the zappy chunk grid).
    * Data is unchanged; only the physical partitioning moves. */
  def rechunk(blockRows: Long): ZMatrix =
    ZMatrix(cells.repartition((col("i") / blockRows).cast("long")))

  /** scanpy `sc.pp.regress_out` (single covariate, closed form): replace
    * each column with the residual of its DENSE per-column OLS fit on a
    * per-row covariate x — scanpy's canonical use regresses out
    * `total_counts`, i.e. the row sums. `covariate` is `(i, x)`, one row
    * per matrix row with a stored cell (rows absent from it contribute
    * x = 0 exactly as dense zeros would). Closed form:
    * b_j = (n·Σxv − Σx·Σv_j) / (n·Σx² − (Σx)²), a_j = (Σv_j − b_j·Σx)/n
    * with n = `nrows` (the dense height — implicit zeros are values, the
    * [[filterColsTopVar]] contract; a zero cell contributes 0 to every
    * cross-moment, so all sums collect from stored cells only).
    *
    * Residuals are emitted AT THE STORED COORDINATES (the coordinate-form
    * contract: densifying is a materialization choice — the residual at
    * an implicit zero is −(a_j + b_j·x_i), derivable from the same
    * broadcast fit table). A CONSTANT covariate makes the denominator 0
    * and every residual NaN (0/0 — scipy's behavior for a rank-deficient
    * single-covariate fit).
    *
    * Plan shape: the covariate's two global moments are one tiny agg
    * collected as literals (parameter-sized, the [[graft.array.Pca]]
    * model pattern); cells join the covariate co-keyed on i (ONE fact
    * shuffle, checkpointed for its two consumers); per-column stats are
    * an ncols-row aggregate that re-joins as a broadcast. All sums are
    * integer-valued doubles on this data — exact under any partition
    * order — and the residual rounds to 6dp, so output is deterministic. */
  def regressOut(covariate: DataFrame, nrows: Long): ZMatrix = {
    val n = lit(nrows.toDouble)
    val x = covariate.select(col("i"), col("x").cast("double").as("x"))
    val g = x.agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx")).head()
    val sx = lit(g.getDouble(0)); val sxx = lit(g.getDouble(1))
    // two consumers of the joined frame (per-column stats + residual
    // output) — checkpoint once, the corrCols multi-consumer pattern
    val cx = cells.join(x, Seq("i")).localCheckpoint()
    val fit = cx.groupBy(col("j"))
      .agg(sum(col("v")).as("_sy"), sum(col("x") * col("v")).as("_sxy"))
      .select(col("j"),
        ((n * col("_sxy") - sx * col("_sy")) / (n * sxx - sx * sx)).as("_b"),
        col("_sy"))
      .select(col("j"), col("_b"), ((col("_sy") - col("_b") * sx) / n).as("_a"))
    ZMatrix(cx.join(broadcast(fit), Seq("j"))
      .select(col("i"), col("j"),
        (round(col("v") - col("_a") - col("_b") * col("x"), 6) + 0.0).as("v")))
  }

  /** scanpy `sc.pp.regress_out` with TWO covariates (the multi-covariate
    * form [[regressOut]] generalizes): per gene j, OLS residuals of
    * y_j ~ 1 + x1 + x2, solved in closed form through the ADJUGATE of the
    * global 3×3 normal-equation matrix A = [[n,S1,S2],[S1,S11,S12],
    * [S2,S12,S22]] — six moment scalars collected once (parameter-sized
    * driver traffic, the Pca pattern), inverse entries computed in ONE
    * fixed op order shared verbatim with the SQL twin, then β_j = A⁻¹·b_j
    * as three literal-weighted dot products over the per-gene aggregates
    * b_j = (Σv, Σx1·v, Σx2·v). Covariates must be integer-valued (the
    * caller scales them) so every moment is an exact integer in double;
    * the adjugate/β/residual chain is then correctly-rounded ops on
    * bit-identical operands in both engines (PARITY class 2) and the 6dp
    * round is stable.
    *
    * Plan: one j-keyed aggregate over the covariate-joined cells (ONE
    * fact shuffle) + a gene-sized broadcast back. The covariate frame
    * `(i, x1, x2)` is rows-sized and joins the cells on i; rows absent
    * from the cell table contribute nothing (coordinate-form contract —
    * moments are over rows WITH stored cells, like [[regressOut]]). */
  def regressOutMulti(covs: DataFrame): ZMatrix = {
    val rows = cells.select(col("i")).distinct()
    val x = covs.join(rows, Seq("i"))
      .select(col("i"), col("x1").cast("double").as("x1"),
        col("x2").cast("double").as("x2"))
      .localCheckpoint() // consumers: global moments, cell join
    val g = x.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22")).head()
    val (n, s1, s2) = (g.getDouble(0), g.getDouble(1), g.getDouble(2))
    val (s11, s12, s22) = (g.getDouble(3), g.getDouble(4), g.getDouble(5))
    // determinant + adjugate in the EXACT op order of the SQL twin
    val det = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    require(det != 0.0, "regressOutMulti: singular normal equations " +
      "(collinear covariates)")
    val c00 = (s11 * s22 - s12 * s12) / det
    val c01 = (s2 * s12 - s1 * s22) / det
    val c02 = (s1 * s12 - s2 * s11) / det
    val c11 = (n * s22 - s2 * s2) / det
    val c12 = (s2 * s1 - n * s12) / det
    val c22 = (n * s11 - s1 * s1) / det
    // the covariate frame is a checkpointed LogicalRDD (estimate-less);
    // n is driver-known from the moment pass, so pin the join to
    // sort-merge once the frame is too big for a safe broadcast build
    // (the sf10-gate defect class — see Zarr.mergeHintIfBig).
    // The joined cells frame is FACT-sized and deliberately NOT cached:
    // at the sf10 gate a cached copy plus 32 concurrent hash aggregates
    // exhausted the unified pool (UNABLE_TO_ACQUIRE_MEMORY) — its two
    // consumers recompute one extra lineitem pass instead, the
    // recompute-over-cache rule every fact-sized intermediate follows.
    val xSafe = if (n > 4e6) x.hint("merge") else x
    val cx = cells.join(xSafe, Seq("i"))
    val fit = cx.groupBy(col("j")).agg(sum(col("v")).as("_b0"),
        sum(col("x1") * col("v")).as("_b1"),
        sum(col("x2") * col("v")).as("_b2"))
      .select(col("j"),
        (lit(c00) * col("_b0") + lit(c01) * col("_b1") + lit(c02) * col("_b2")).as("_a"),
        (lit(c01) * col("_b0") + lit(c11) * col("_b1") + lit(c12) * col("_b2")).as("_w1"),
        (lit(c02) * col("_b0") + lit(c12) * col("_b1") + lit(c22) * col("_b2")).as("_w2"))
    ZMatrix(cx.join(broadcast(fit), Seq("j"))
      .select(col("i"), col("j"),
        (round(col("v") - col("_a") - col("_w1") * col("x1") -
          col("_w2") * col("x2"), 6) + 0.0).as("v")))
  }

  /** scanpy `sc.pp.combat`, location/scale form WITHOUT the empirical-
    * Bayes shrinkage (the parametric limit as the prior widens): per
    * (gene j, batch b) the stored cells standardize by the batch's
    * mean/sd and re-anchor at the gene's grand mean / pooled sd:
    *
    *   x' = (x − m_jb)/s_jb · s_j + m_j
    *
    * Exactness contract: cell values here are integer-valued doubles, so
    * every count/Σv/Σv² is exact; mean and variance are single
    * correctly-rounded divisions of exact integers, sd one IEEE sqrt,
    * and the residual chain uses ONE fixed op order shared with the SQL
    * twin — the 6dp round is bit-stable (PARITY class 2, no libm, no
    * unordered float sums). A zero-variance (or singleton) batch-gene
    * passes through uncorrected, matching the oracle's CASE. Moments are
    * over STORED cells (the [[regressOut]] coordinate-form contract).
    *
    * Plan: one (j,b)-keyed aggregate + one j-keyed aggregate — both
    * gene-sized outputs broadcast back onto the cells — so the fact
    * table shuffles once for the batch stats and streams through the
    * correction join. `batches` is rows-sized `(i, b)`; at 100 TB it
    * joins on the cells' i the same way every row-vector broadcast does. */
  def combat(batches: DataFrame): ZMatrix = {
    val cb = cells.join(batches.select(col("i"), col("b")), Seq("i"))
      .localCheckpoint() // three consumers: batch stats, gene stats, output
    val bs = cb.groupBy(col("j"), col("b"))
      .agg(count(lit(1)).cast("double").as("_nb"),
        sum(col("v")).as("_s1b"), sum(col("v") * col("v")).as("_s2b"))
      .select(col("j"), col("b"), (col("_s1b") / col("_nb")).as("_mb"),
        when(col("_nb") > 1,
          sqrt((col("_nb") * col("_s2b") - col("_s1b") * col("_s1b")) /
            (col("_nb") * (col("_nb") - 1)))).otherwise(lit(0.0)).as("_sb"))
    val gs = cb.groupBy(col("j"))
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(col("v")).as("_s1"), sum(col("v") * col("v")).as("_s2"))
      .select(col("j"), (col("_s1") / col("_n")).as("_gm"),
        when(col("_n") > 1,
          sqrt((col("_n") * col("_s2") - col("_s1") * col("_s1")) /
            (col("_n") * (col("_n") - 1)))).otherwise(lit(0.0)).as("_gs"))
    ZMatrix(cb.join(broadcast(bs), Seq("j", "b")).join(broadcast(gs), Seq("j"))
      .select(col("i"), col("j"),
        (when(col("_sb") > 0,
          round((col("v") - col("_mb")) / col("_sb") * col("_gs") + col("_gm"), 6))
          .otherwise(round(col("v"), 6)) + 0.0).as("v")))
  }

  /** scanpy `sc.tl.score_genes`, deterministic variant: per-row mean
    * dense expression over a gene set minus the mean over a CONTROL set
    * drawn from matched expression bins. Binning follows scanpy: columns
    * ranked by average expression (6dp-rounded dense mean, ties → smaller
    * j, so float noise can never flip a bin edge), cut into `nBins` rank
    * bins — bin(rk) = rk·nBins ÷ ncols; the controls are ALL genes of
    * every bin containing a set gene, minus the set itself (scanpy
    * samples `ctrl_size` genes per bin — taking the whole bin is that
    * sample's deterministic limit). Returns `(i, score)` for every row
    * with a stored cell; a row with no stored cell in either gene set
    * scores 0 − 0 (dense semantics, zeros everywhere).
    *
    * Plan shape: the column-mean table is ncols rows — collected as a
    * model parameter (the [[graft.array.Pca]] pattern), binned driver
    * side; the score is then ONE conditional aggregate over the cells
    * with both gene lists as literal IN-filters. One scan, one shuffle. */
  def scoreGenes(geneSet: Seq[Long], nrows: Long, nBins: Int = 4): DataFrame = {
    val n = lit(nrows.toDouble)
    val means = cells.groupBy(col("j"))
      .agg((round(sum(col("v")) / n, 6) + 0.0).as("_mu"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ncols = means.length
    val bin = means.sortBy { case (j, mu) => (mu, j) }.zipWithIndex
      .map { case ((j, _), rk) => j -> rk * nBins / ncols }.toMap
    val setBins = geneSet.map(bin).toSet
    val ctrl = bin.keys.filter(j => setBins(bin(j)) && !geneSet.contains(j)).toSeq.sorted
    require(ctrl.nonEmpty,
      s"control set is empty — the gene-set bins hold no other genes (set=$geneSet)")
    val inSet = col("j").isin(geneSet: _*)
    val inCtrl = col("j").isin(ctrl: _*)
    cells.groupBy(col("i")).agg(
      (round(coalesce(sum(when(inSet, col("v"))), lit(0.0)) / geneSet.size -
        coalesce(sum(when(inCtrl, col("v"))), lit(0.0)) / ctrl.size, 6) + 0.0).as("score"))
  }

  /** scanpy `sc.experimental.pp.normalize_pearson_residuals` (analytic
    * Pearson residuals, Lause/Berens/Kobak 2021): under the NB model with
    * μ_ij = rs_i·cs_j / T (row sums × column sums over the grand total)
    * the residual is (x − μ) / sqrt(μ + μ²/θ), clipped to ±sqrt(n).
    * θ = 100 (scanpy's default), n = `nrows` (the dense height). A cell
    * in a zero-sum row or column has μ = 0 and a null residual.
    * Residuals are emitted at the stored coordinates (the [[regressOut]]
    * coordinate-form contract; at an implicit zero the residual is
    * −μ/sqrt(μ+μ²/θ), derivable from the same marginals).
    *
    * Plan shape: row sums are a window over [[byRow]] (ONE fact shuffle,
    * no join back); column sums are an ncols-row broadcast; the grand
    * total and the clip bound enter as literals. Every marginal is an
    * exact integer-valued double on this data, and μ/σ/residual use one
    * fixed expression order shared with the SQL twin, so the 6dp output
    * is bit-stable. */
  def pearsonResiduals(nrows: Long, theta: Double = 100.0): ZMatrix = {
    val cs = cells.groupBy(col("j")).agg(sum(col("v")).as("_cs"))
    val total = lit(cells.agg(sum(col("v"))).head().getDouble(0))
    val clip = lit(math.sqrt(nrows.toDouble))
    // try_divide: a zero-sum row or column (μ = 0) yields null residuals,
    // as rowNormalize's zero-sum rows do, where a plain divide is an ANSI
    // error; the clip is guarded because greatest(null, -clip) is -clip
    val mu = try_divide(col("_rs") * col("_cs"), total)
    val r = try_divide(col("v") - mu, sqrt(mu + mu * mu / theta))
    ZMatrix(withRowSum.join(broadcast(cs), Seq("j"))
      .select(col("i"), col("j"),
        (round(when(r.isNotNull, least(greatest(r, -clip), clip)), 6) + 0.0).as("v")))
  }

  /** scanpy normalize_per_cell: each row scaled by its own sum, taken as a
    * window over [[byRow]]. An aggregate joined back on `i` is not one
    * shuffle at run time: AQE re-plans the join as a broadcast of the
    * whole cell side, probed from a row-sum shuffle it has coalesced into
    * one task. The window has no join for AQE to turn around. */
  def rowNormalize: ZMatrix =
    // try_divide: a zero-sum row (possible for signed matrices) yields
    // null cells — matching the DuckDB twin's x/0 = NULL exactly; a plain
    // divide would be an ANSI hard error
    ZMatrix(withRowSum
      .select(col("i"), col("j"), round(try_divide(col("v"), col("_rs")), 6).as("v")))
}

object ZMatrix {
  /** Build from any long-form DataFrame (the relational bridge). */
  def fromLongForm(df: DataFrame, iCol: String, jCol: String, vCol: String): ZMatrix =
    ZMatrix(df.select(col(iCol).cast("long").as("i"), col(jCol).cast("long").as("j"),
      col(vCol).cast("double").as("v")))

  /** zappy zeros/ones: constant matrices built distributed (range × range,
    * no driver-side materialization). */
  def constant(spark: SparkSession, rows: Long, cols: Long, value: Double): ZMatrix = {
    import spark.implicits._
    val r = spark.range(rows).select(col("id").as("i"))
    val c = spark.range(cols).select(col("id").as("j"))
    ZMatrix(r.crossJoin(c).withColumn("v", lit(value)))
  }
  def zeros(spark: SparkSession, rows: Long, cols: Long): ZMatrix = constant(spark, rows, cols, 0.0)
  def ones(spark: SparkSession, rows: Long, cols: Long): ZMatrix = constant(spark, rows, cols, 1.0)

  /** Persist a matrix as a BUCKETED parquet table (bucketed + sorted on the
    * given columns, default the (i, j) coordinates). Reads of the returned
    * matrix carry the bucket layout as their output partitioning, so an
    * (i, j)-equality zip between two matrices persisted with the same
    * bucket count runs with NO Exchange above either scan — the join
    * co-locates at load time. This is the cell-storage answer to "big
    * matrix ⊕ big matrix shuffles both sides": at 100 TB you bucket the
    * store once and every subsequent aligned op is shuffle-free. (For
    * matmul, bucket by the contraction key instead: left on "j", right on
    * "i".) */
  def persistBucketed(m: ZMatrix, table: String, path: String,
                      buckets: Int = 8, cols: Seq[String] = Seq("i", "j")): ZMatrix = {
    val spark = m.cells.sparkSession
    // repartition on the bucket keys first: without it every input task
    // writes a sliver of every bucket (tasks x buckets tiny files); with it
    // each task owns whole buckets - one file per bucket
    m.cells.repartition(buckets, cols.map(col): _*)
      .write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)
    ZMatrix(spark.table(table))
  }

  /** zappy from_ndarray: local dense matrix -> distributed coordinate form. */
  def fromDense(spark: SparkSession, m: Array[Array[Double]]): ZMatrix = {
    import spark.implicits._
    val cells = for { i <- m.indices; j <- m(i).indices } yield (i.toLong, j.toLong, m(i)(j))
    ZMatrix(cells.toDF("i", "j", "v"))
  }

  /** The testdata-backed demo matrix: i=l_orderkey, j=l_linenumber,
    * v=sum(l_quantity). (orderkey, linenumber) is NOT unique in lineitem,
    * and a matrix needs unique coordinates — aggregate at construction
    * (values stay integral doubles, so sums are exact). */
  def fromLineitem(spark: SparkSession, sfDir: String): ZMatrix = {
    val raw = fromLongForm(graft.Tables.lineitem(spark, sfDir),
      "l_orderkey", "l_linenumber", "l_quantity")
    ZMatrix(raw.cells.groupBy(col("i"), col("j")).agg(sum(col("v")).as("v")))
  }
}

/** Local bridge (zappy asndarray) — test/driver-side only; never call on
  * data-scale matrices. */
object ZLocal {
  def toDense(m: ZMatrix, rows: Int, cols: Int, fill: Double = 0.0): Array[Array[Double]] = {
    val out = Array.fill(rows, cols)(fill)
    m.cells.collect().foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      if (i >= 0 && j >= 0 && i < rows && j < cols) out(i)(j) = r.getDouble(2)
    }
    out
  }
}
