package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.array.{ZLocal, ZMatrix}

class ZMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val dense: Array[Array[Double]] = Array(
    Array(1.0, 2.0, 3.0),
    Array(4.0, 5.0, 6.0),
    Array(7.0, 8.0, 9.0),
    Array(0.0, 1.0, 2.0))

  def m: ZMatrix = ZMatrix.fromDense(spark, dense)

  test("fromDense/toDense roundtrip (zappy from_ndarray/asndarray)") {
    assert(ZLocal.toDense(m, 4, 3).map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("rankAxis1 matches local per-row argsort order") {
    val got = m.rankAxis1().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val exp = dense.zipWithIndex.flatMap { case (row, i) =>
      row.zipWithIndex.sortBy { case (v, j) => (v, j) }.zipWithIndex
        .map { case ((_, j), rk) => (i.toLong, j.toLong) -> (rk + 1).toLong }
    }.toMap
    assert(got == exp, s"got=$got exp=$exp")
  }

  test("bincount matches local value counts (np.bincount, sparse form)") {
    val got = m.bincount().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = dense.flatten.groupBy(_.toLong).view.mapValues(_.length.toLong).toMap
    assert(got == exp, s"got=$got exp=$exp")
  }

  test("quantileAxis0 matches local linear interpolation (numpy quantile)") {
    // column 0 stored values: 1, 4, 7, 0 → sorted 0,1,4,7; q25 at rank
    // 0.75 → 0.75, q50 → 2.5, q75 → 4.75 (linear interpolation)
    val got = m.quantileAxis0(Seq(0.25, 0.5, 0.75)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    def localQ(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      val v = if (lo + 1 < s.length) s(lo) * (1 - frac) + s(lo + 1) * frac else s(lo)
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    for (j <- 0 until 3) {
      val colVals = dense.map(_(j)).toSeq
      assert(got(j.toLong) ==
        ((localQ(colVals, 0.25), localQ(colVals, 0.5), localQ(colVals, 0.75))),
        s"column $j: ${got(j.toLong)}")
    }
    assert(got(0L) == ((0.75, 2.5, 4.75))) // the hand-computed pin
    // non-integer percents keep exact labels; near-collisions stay distinct
    assert(m.quantileAxis0(Seq(0.125, 0.13)).columns.toSeq == Seq("j", "q12_5", "q13"))
    val dup = intercept[IllegalArgumentException](m.quantileAxis0(Seq(0.25, 0.25)))
    assert(dup.getMessage.contains("duplicate"))
  }

  test("quantileAxis1 matches local linear interpolation per row") {
    val got = m.quantileAxis1(Seq(0.25, 0.5, 0.75)).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    def localQ(xs: Seq[Double], q: Double): Double = {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      val v = if (lo + 1 < s.length) s(lo) * (1 - frac) + s(lo + 1) * frac else s(lo)
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    for (i <- dense.indices) {
      val rowVals = dense(i).toSeq
      assert(got(i.toLong) ==
        ((localQ(rowVals, 0.25), localQ(rowVals, 0.5), localQ(rowVals, 0.75))),
        s"row $i: ${got(i.toLong)}")
    }
  }

  test("vstack/hstack concatenation matches the dense block layout") {
    val other = Array(Array(10.0, 20.0, 30.0), Array(40.0, 50.0, 60.0))
    val o = ZMatrix.fromDense(spark, other)
    // vstack: other lands BELOW, re-indexed by this matrix's height (4)
    val v = ZLocal.toDense(m.vstack(o, selfRows = 4), 6, 3)
    assert(v.map(_.toSeq).toSeq == (dense ++ other).map(_.toSeq).toSeq)
    // hstack: other lands RIGHT of a 2-row slice, re-indexed by width (3)
    val left = ZMatrix.fromDense(spark, dense.take(2))
    val h = ZLocal.toDense(left.hstack(o, selfCols = 3), 2, 6)
    assert(h.map(_.toSeq).toSeq ==
      dense.take(2).zip(other).map { case (a, b) => (a ++ b).toSeq }.toSeq)
    // height is index space, not stored-row count: a gap row stays a gap
    // and the stacked copy starts after it, exactly like dense vstack
    import spark.implicits._
    val gappy = ZMatrix(Seq((0L, 0L, 1.0), (2L, 0L, 3.0)).toDF("i", "j", "v"))
    val g = ZLocal.toDense(gappy.vstack(gappy, selfRows = 3), 6, 1)
    assert(g.map(_(0)).toSeq == Seq(1.0, 0.0, 3.0, 1.0, 0.0, 3.0))
    // downstream reductions see one matrix: column sums double
    val cs = m.vstack(m, 4).sumAxis0.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(cs == Map(0L -> 24.0, 1L -> 32.0, 2L -> 40.0))
  }

  test("elementwise ufuncs") {
    val got = ZLocal.toDense(m.log1p_, 4, 3)
    for (i <- 0 until 4; j <- 0 until 3)
      assert(math.abs(got(i)(j) - math.log1p(dense(i)(j))) < 1e-12)
    val sq = ZLocal.toDense(m.sqrt_, 4, 3)
    assert(sq(1)(1) == math.sqrt(5.0))
  }

  test("min/max axis reductions, any/all, floorDiv/mod") {
    val mins = m.minAxis0.orderBy("j").collect().map(_.getDouble(1)).toSeq
    assert(mins == Seq(0.0, 1.0, 2.0))
    val maxs = m.maxAxis1.orderBy("i").collect().map(_.getDouble(1)).toSeq
    assert(maxs == Seq(3.0, 6.0, 9.0, 2.0))
    val any = m.gt(6.0).anyAxis1.orderBy("i").collect().map(_.getBoolean(1)).toSeq
    assert(any == Seq(false, false, true, false))
    val all = m.gt(0.5).allAxis1.orderBy("i").collect().map(_.getBoolean(1)).toSeq
    assert(all == Seq(true, true, true, false)) // last row contains 0
    assert(ZLocal.toDense(m.floorDiv(2.0), 4, 3)(2)(1) == 4.0) // 8 / 2
    assert(ZLocal.toDense(m.mod_(3.0), 4, 3)(2)(0) == 1.0) // 7 mod 3
  }

  test("argmaxAxis0 picks the max row per column, ties -> smallest i") {
    // col 0: max 7 at i=2; add a tie matrix to exercise the (v, -i) struct order
    val am = m.argmaxAxis0.orderBy("j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(am == Seq((0L, 2L, 7.0), (1L, 2L, 8.0), (2L, 2L, 9.0)))
    val tied = ZMatrix.fromDense(spark, Array(Array(5.0, 1.0), Array(5.0, 2.0)))
    val t = tied.argmaxAxis0.orderBy("j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(t == Seq((0L, 0L), (1L, 1L))) // col 0 tie at 5.0 -> i=0
  }

  test("argmaxAxis1 picks the max column per row, ties -> smallest j") {
    val am = m.argmaxAxis1.orderBy("i").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(am == Seq((0L, 2L, 3.0), (1L, 2L, 6.0), (2L, 2L, 9.0), (3L, 2L, 2.0)))
    val tied = ZMatrix.fromDense(spark, Array(Array(5.0, 5.0), Array(1.0, 2.0)))
    val t = tied.argmaxAxis1.orderBy("i").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(t == Seq((0L, 0L), (1L, 1L))) // row 0 tie at 5.0 -> j=0
  }

  test("argminAxis0 picks the min row per column, ties -> smallest i") {
    val am = m.argminAxis0.orderBy("j").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(am == Seq((0L, 3L, 0.0), (1L, 3L, 1.0), (2L, 3L, 2.0)))
    val tied = ZMatrix.fromDense(spark, Array(Array(5.0, 2.0), Array(5.0, 1.0)))
    val t = tied.argminAxis0.orderBy("j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(t == Seq((0L, 0L), (1L, 1L))) // col 0 tie at 5.0 -> i=0
  }

  test("cumsumAxis1 matches the dense prefix sum at stored cells") {
    val cs = ZLocal.toDense(m.cumsumAxis1, 4, 3)
    for (i <- 0 until 4; j <- 0 until 3)
      assert(cs(i)(j) == dense(i).take(j + 1).sum, s"($i,$j)")
  }

  test("clip / maximum / minimum / sign ufuncs") {
    val c = ZLocal.toDense(m.clip(2.0, 7.0), 4, 3)
    assert(c(0)(0) == 2.0 && c(2)(2) == 7.0 && c(1)(1) == 5.0)
    assert(ZLocal.toDense((m - 5.0).sign_, 4, 3)(0)(0) == -1.0)
    assert(ZLocal.toDense(m.maximum(8.0), 4, 3)(0)(0) == 8.0)
  }

  test("scalar arithmetic and affine") {
    val got = ZLocal.toDense(m.affine(2.5, 1.0), 4, 3)
    assert(got(1)(2) == 6.0 * 2.5 + 1.0)
    assert(ZLocal.toDense(m * 2.0, 4, 3)(2)(0) == 14.0)
  }

  test("comparison ufunc -> mask") {
    val got = ZLocal.toDense(m.gt(5.0), 4, 3)
    assert(got(1)(2) == 1.0 && got(1)(1) == 0.0)
  }

  test("matrix + matrix aligned join") {
    val got = ZLocal.toDense(m + (m * 2.0), 4, 3)
    for (i <- 0 until 4; j <- 0 until 3) assert(got(i)(j) == 3 * dense(i)(j))
  }

  test("where/zipOuter: union footprint, numpy ternary with zero fill") {
    import org.apache.spark.sql.functions.col
    // Y = X rolled one column right — footprints differ on both sides:
    // (i, 0) exists only in X, (i, 3) only in Y
    val rolled = ZMatrix(m.cells.select(col("i"), (col("j") + 1).as("j"), col("v")))
    val got = ZLocal.toDense(m.where(rolled)(_ > 4.0), 4, 4)
    for (i <- 0 until 4; j <- 0 until 4) {
      val a = if (j < 3) dense(i)(j) else 0.0
      val b = if (j >= 1) dense(i)(j - 1) else 0.0
      assert(got(i)(j) == (if (a > 4.0) a else b), s"($i,$j)")
    }
    // zipOuter subtraction at mixed footprints: X − rolled(X)
    val diff = ZLocal.toDense(m.zipOuter(rolled)(_ - _), 4, 4)
    for (i <- 0 until 4; j <- 0 until 4) {
      val a = if (j < 3) dense(i)(j) else 0.0
      val b = if (j >= 1) dense(i)(j - 1) else 0.0
      assert(diff(i)(j) == a - b, s"($i,$j)")
    }
  }

  test("nanAggAxis0: NaN leaves numerator and denominator, counted apart") {
    import org.apache.spark.sql.functions.{col, when, lit}
    // poison the value 5.0 (column 1 row 1) and the whole column 2
    val poisoned = ZMatrix(m.cells.select(col("i"), col("j"),
      when(col("v") === 5.0 || col("j") === 2, lit(Double.NaN))
        .otherwise(col("v")).as("v")))
    val got = poisoned.nanAggAxis0.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    // col 0: untouched -> plain mean
    assert(got(0L) == ((12.0, 4L, 0L, Some(3.0))))
    // col 1: 5.0 became NaN -> mean over {2, 8, 1}
    assert(got(1L)._2 == 3L && got(1L)._3 == 1L &&
      got(1L)._4.contains(math.rint(11.0 / 3 * 1e6) / 1e6))
    // col 2: all NaN -> NULL mean, zero ok-count
    assert(got(2L) == ((0.0, 0L, 4L, None)))
  }

  test("row-vector broadcasting (center columns)") {
    val centered = m.broadcastOverCols(m.meanAxis0)((v, mv) => v - mv)
    val got = ZLocal.toDense(centered, 4, 3)
    val mean0 = (1.0 + 4.0 + 7.0 + 0.0) / 4
    assert(math.abs(got(0)(0) - (1.0 - mean0)) < 1e-12)
  }

  test("axis reductions: sum/mean/var") {
    val a0 = m.aggAxis0.orderBy("j").collect()
    assert(a0(0).getAs[Double]("sum_v") == 12.0)
    assert(a0(0).getAs[Double]("mean_v") == 3.0)
    // var of (1,4,7,0): mean 3, sq diffs 4+1+16+9=30, /4 = 7.5
    assert(math.abs(a0(0).getAs[Double]("var_v") - 7.5) < 1e-9)
    val a1 = m.aggAxis1.orderBy("i").collect()
    assert(a1(0).getAs[Double]("sum_v") == 6.0)
    val full = m.aggFull.head()
    assert(full.getAs[Double]("sum_v") == 48.0 && full.getAs[Long]("n") == 12L)
  }

  test("boolean row indexing by row-sum") {
    val kept = m.filterRowsBySum(_ > 10.0).cells.select("i").distinct().collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L)) // row sums: 6, 15, 24, 3
  }

  test("slice is a range filter") {
    val s = m.slice(1, 3, 0, 2).cells.collect()
    assert(s.length == 4)
    assert(s.forall(r => r.getLong(0) >= 1 && r.getLong(0) < 3 && r.getLong(1) < 2))
  }

  test("transpose and matmul (gram)") {
    val g = ZLocal.toDense(m.gram, 3, 3)
    // gram[0][0] = 1+16+49+0 = 66 ; gram[0][1] = 2+20+56+0 = 78
    assert(g(0)(0) == 66.0 && g(0)(1) == 78.0 && g(1)(0) == 78.0)
  }

  test("rechunk preserves data") {
    val r = m.rechunk(2)
    assert(ZLocal.toDense(r, 4, 3).map(_.toSeq).toSeq == dense.map(_.toSeq).toSeq)
  }

  test("matvec: X·w as one pass with a literal parameter vector") {
    val w = Array(1.0, 0.5, 0.25)
    val got = m.matvec(w).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = dense.zipWithIndex.map { case (row, i) =>
      i.toLong -> row.zip(w).map { case (x, ww) => x * ww }.sum
    }.toMap
    assert(got == want)
  }

  test("row normalize") {
    val got = ZLocal.toDense(m.rowNormalize, 4, 3)
    assert(math.abs(got(0)(0) - 1.0 / 6.0) < 1e-6)
  }

  test("astype int truncates to IntegerType") {
    val dt = m.astypeInt.schema("v").dataType
    assert(dt == org.apache.spark.sql.types.IntegerType)
  }

  test("astype f4 rounds through Float; i8 truncates") {
    val third = ZMatrix.fromDense(spark, Array(Array(1.0 / 3.0)))
    assert(ZLocal.toDense(third.astype("f4"), 1, 1)(0)(0) == (1.0f / 3.0f).toDouble)
    assert(ZLocal.toDense((m / 2.0).astype("i8"), 4, 3)(2)(1) == 4.0) // 8/2=4
    assert(ZLocal.toDense((m / 2.0).astype("i4"), 4, 3)(1)(0) == 2.0) // 4/2=2
  }

  test("fancy indexing gathers rows/cols with duplicates (X[[2,0,2], :][:, [1,1]])") {
    val got = ZLocal.toDense(m.selectRows(Seq(2L, 0L, 2L)).selectCols(Seq(1L, 1L)), 3, 2)
    assert(got(0).toSeq == Seq(8.0, 8.0)) // row 2, col 1 twice
    assert(got(1).toSeq == Seq(2.0, 2.0)) // row 0
    assert(got(2).toSeq == Seq(8.0, 8.0)) // row 2 again
  }

  test("boolean column indexing by column mean") {
    // col means: (1+4+7+0)/4=3, (2+5+8+1)/4=4, (3+6+9+2)/4=5
    val kept = m.filterColsByMean(_ > 3.5).cells.select("j").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 2L))
  }

  test("zeros/ones constructors build distributed constants") {
    val z = ZMatrix.ones(spark, 5, 4)
    assert(z.aggFull.head().getAs[Double]("sum_v") == 20.0)
    assert(ZMatrix.zeros(spark, 3, 3).cells.count() == 9)
    // median of column 0: values (1,4,7,0) -> interpolated 2.5
    assert(m.medianAxis0.orderBy("j").head().getDouble(1) == 2.5)
  }

  test("scaleCols standardizes each column (scanpy scale)") {
    val got = ZLocal.toDense(m.scaleCols(), 4, 3)
    // col 0: mean 3, var 7.5 -> (1-3)/sqrt(7.5)
    assert(math.abs(got(0)(0) - (1.0 - 3.0) / math.sqrt(7.5)) < 1e-6)
    // standardized columns have ~zero mean
    for (j <- 0 until 3)
      assert(math.abs((0 until 4).map(i => got(i)(j)).sum) < 1e-5)
  }

  test("astype to int throws on NaN under ANSI (documented NumPy divergence)") {
    import spark.implicits._
    val bad = ZMatrix(Seq((0L, 0L, Double.NaN)).toDF("i", "j", "v"))
    val e = intercept[Exception] {
      bad.astype("i4").cells.collect()
    }
    assert(e.isInstanceOf[org.apache.spark.SparkThrowable]
      || e.getCause.isInstanceOf[org.apache.spark.SparkThrowable])
    // in-range values still truncate toward zero
    val ok = ZMatrix(Seq((0L, 0L, -2.7)).toDF("i", "j", "v"))
    assert(ok.astype("i8").cells.head().getDouble(2) == -2.0)
  }

  test("contraction-key bucketed matmul shuffles only for the output aggregate") {
    // matmul joins left.j = right.i (the contraction key k): bucket each
    // side on ITS join key and the join co-locates at load time — the only
    // remaining exchange is the unavoidable one keyed by the OUTPUT (i,j)
    val l = ZMatrix.persistBucketed(m, "zmx_mm_left",
      "/root/repo/target/tmp/zmx_mm_left", buckets = 4, cols = Seq("j"))
    val r = ZMatrix.persistBucketed(m, "zmx_mm_right",
      "/root/repo/target/tmp/zmx_mm_right", buckets = 4, cols = Seq("i"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val prod = l.matmul(r)
      val plan = prod.cells.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"expected only the aggregate exchange in:\n$plan")
      // result matches the unbucketed matmul
      val viaBucket = ZLocal.toDense(prod, 3, 3)
      val plain = ZLocal.toDense(m.matmul(m), 3, 3)
      assert(viaBucket.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
    } finally spark.conf.set(key, prev)
  }

  test("bucketed cell storage makes aligned zip shuffle-free") {
    val b = ZMatrix.persistBucketed(m, "zmx_bucket_test",
      "/root/repo/target/tmp/zmx_bucket_test", buckets = 4)
    // this toy table would broadcast (also shuffle-free, but not what we
    // are proving) - disable broadcast to expose the sort-merge path a
    // fact-sized matrix would take, and assert the bucket layout removed
    // the shuffle on both sides
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val zipped = b + (b * 2.0)
      val plan = zipped.cells.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketed scan not used in:\n$plan")
      // and the result is still correct
      val got = ZLocal.toDense(zipped, 4, 3)
      for (i <- 0 until 4; j <- 0 until 3)
        assert(got(i)(j) == dense(i)(j) * 3.0)
    } finally spark.conf.set(key, prev)
  }

  test("varAxis1 matches driver-computed per-row population variance") {
    val got = m.varAxis1.collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    dense.zipWithIndex.foreach { case (row, i) =>
      val mu = row.sum / row.length
      val vr = row.map(x => (x - mu) * (x - mu)).sum / row.length
      assert(math.abs(got(i.toLong)._1 - mu) < 1e-6, s"mean row $i")
      assert(math.abs(got(i.toLong)._2 - vr) < 1e-6, s"var row $i")
    }
  }

  test("filterColsTopVar keeps exactly the k most-variable columns") {
    // population variances: col0 = 1.25, col1 = 0 (constant), col2 = 16,
    // col3 = 0 (constant) — a clear ranking plus a variance TIE between
    // the two constant columns to exercise the smaller-j tie-break
    val data = Array(
      Array(1.0, 5.0, 9.0, 100.0),
      Array(2.0, 5.0, 1.0, 100.0),
      Array(3.0, 5.0, 9.0, 100.0),
      Array(4.0, 5.0, 1.0, 100.0))
    val mm = ZMatrix.fromDense(spark, data)
    def popVar(j: Int): Double = {
      val xs = data.map(_(j)); val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }
    val ranked = (0 until 4).sortBy(j => (-popVar(j), j))
    val kept = mm.filterColsTopVar(2, nrows = 4).cells.select("j").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(kept == ranked.take(2).map(_.toLong).toSet, s"kept $kept")
    // kept cells are unchanged, dropped columns fully absent
    assert(mm.filterColsTopVar(2, nrows = 4).cells.count() == 8)
  }

  test("hvgScale == filterColsTopVar ∘ scaleCols (fused single-pass twin)") {
    // the fixture exercises the fusion's two subtleties: a variance TIE
    // (constant cols 1,3 — smaller-j break), and a SPARSE column (col 2
    // missing one row) whose scale μ/σ must come from STORED counts while
    // its hvg rank uses the DENSE nrows — exactly the composed semantics
    val cells = Seq(
      (0L, 0L, 1.0), (0L, 1L, 5.0), (0L, 2L, 9.0), (0L, 3L, 100.0),
      (1L, 0L, 2.0), (1L, 1L, 5.0), (1L, 3L, 100.0),
      (2L, 0L, 3.0), (2L, 1L, 5.0), (2L, 2L, 9.0), (2L, 3L, 100.0),
      (3L, 0L, 4.0), (3L, 1L, 5.0), (3L, 2L, 1.0), (3L, 3L, 100.0))
    import spark.implicits._
    val mm = ZMatrix(cells.toDF("i", "j", "v"))
    for (k <- Seq(1, 2, 3); dp <- Seq(4, 6)) {
      val composed = mm.filterColsTopVar(k, nrows = 4).scaleCols(dp)
        .cells.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val fused = mm.hvgScale(k, nrows = 4, dp)
        .cells.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fused == composed, s"k=$k dp=$dp: fused $fused != composed $composed")
    }
  }

  test("filterColsTopVar uses DENSE variance (implicit zeros count)") {
    // col0 is stored in only 1 of 4 rows with value 8 → dense variance
    // = E[x²]−μ² = 64/4 − 4 = 12; over STORED cells it would be 0 (one
    // value). col1 is fully stored with spread {1,2,3,4} → variance 1.25.
    // Dense semantics must rank col0 ABOVE col1; stored-cell semantics
    // would rank it below. nrows comes from the caller (shape, not data).
    val cells = Seq((0L, 0L, 8.0),
      (0L, 1L, 1.0), (1L, 1L, 2.0), (2L, 1L, 3.0), (3L, 1L, 4.0))
    import spark.implicits._
    val mm = ZMatrix(cells.toDF("i", "j", "v"))
    val kept = mm.filterColsTopVar(1, nrows = 4).cells.select("j").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L), s"sparse column ranked by stored-cell variance: kept $kept")
  }

  test("extended ufuncs match local math (log2/log10/tanh/square/reciprocal/sigmoid)") {
    val fixture = Array(Array(1.0, 2.0), Array(4.0, 0.5))
    val mm = ZMatrix.fromDense(spark, fixture)
    def check(z: ZMatrix, f: Double => Double): Unit = {
      val got = ZLocal.toDense(z, 2, 2)
      for (i <- 0 until 2; j <- 0 until 2) {
        val want = f(fixture(i)(j))
        assert(math.abs(got(i)(j) - want) < 1e-12, s"($i,$j): ${got(i)(j)} vs $want")
      }
    }
    check(mm.log2_, x => math.log(x) / math.log(2))
    check(mm.log10_, math.log10)
    check(mm.tanh_, math.tanh)
    check(mm.square, x => x * x)
    check(mm.reciprocal, x => 1.0 / x)
    check(mm.sigmoid, x => 1.0 / (1.0 + math.exp(-x)))
    // reciprocal of a stored zero is null (dense-cell count drops), not a crash
    val withZero = ZMatrix.fromDense(spark, Array(Array(0.0, 2.0)))
    val cells = withZero.reciprocal.cells.collect()
    assert(cells.length == 2 && cells.count(_.isNullAt(2)) == 1)
  }

  test("jacobi eigensolver matches the closed-form 2x2 eigensystem") {
    // [[2,1],[1,2]] has eigenvalues 3 (v=[1,1]/√2) and 1 (v=[1,-1]/√2)
    val (vals, vecs) = graft.array.Pca.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    val order = vals.zipWithIndex.sortBy(-_._1).map(_._2)
    assert(math.abs(vals(order(0)) - 3.0) < 1e-9)
    assert(math.abs(vals(order(1)) - 1.0) < 1e-9)
    val v0 = Array(vecs(0)(order(0)), vecs(1)(order(0)))
    assert(math.abs(math.abs(v0(0)) - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(v0(0) - v0(1)) < 1e-9) // same sign, equal components
  }

  test("PCA: components orthonormal, variance preserved, projection decorrelated") {
    val data = Array(
      Array(2.5, 2.4, 0.5), Array(0.5, 0.7, 1.1), Array(2.2, 2.9, 0.3),
      Array(1.9, 2.2, 0.6), Array(3.1, 3.0, 0.2), Array(2.3, 2.7, 0.5),
      Array(2.0, 1.6, 0.9), Array(1.0, 1.1, 1.0), Array(1.5, 1.6, 0.8),
      Array(1.1, 0.9, 1.2))
    val mm = ZMatrix.fromDense(spark, data)
    val model = graft.array.Pca.fit(mm, nrows = 10, ncols = 3, k = 3)
    // eigenvalues descending, non-negative
    assert(model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    assert(model.eigenvalues.forall(_ >= -1e-9))
    // components orthonormal
    for (a <- 0 until 3; b <- 0 until 3) {
      val d = model.components(a).zip(model.components(b)).map(t => t._1 * t._2).sum
      assert(math.abs(d - (if (a == b) 1.0 else 0.0)) < 1e-6, s"dot($a,$b)=$d")
    }
    // total variance preserved: Σ eigenvalues = Σ per-column population var
    val colVar = (0 until 3).map { j =>
      val xs = data.map(_(j)); val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / xs.length
    }.sum
    assert(math.abs(model.eigenvalues.sum - colVar) < 1e-6)
    // projected scores: per-PC population variance == eigenvalue, and PCs
    // are mutually decorrelated (off-diagonal covariance ~ 0)
    val proj = ZLocal.toDense(graft.array.Pca.transform(mm, model), 10, 3)
    for (c <- 0 until 3) {
      val xs = proj.map(_(c)); val mu = xs.sum / xs.length
      val vr = xs.map(x => (x - mu) * (x - mu)).sum / xs.length
      assert(math.abs(vr - model.eigenvalues(c)) < 1e-4, s"pc$c var $vr")
    }
    for (a <- 0 until 3; b <- a + 1 until 3) {
      val ma = proj.map(_(a)).sum / 10; val mb = proj.map(_(b)).sum / 10
      val cv = proj.map(r => (r(a) - ma) * (r(b) - mb)).sum / 10
      assert(math.abs(cv) < 1e-4, s"pcs $a,$b correlated: $cv")
    }
    // deterministic twin fit
    val model2 = graft.array.Pca.fit(mm, nrows = 10, ncols = 3, k = 3)
    assert(model.components.map(_.toSeq).toSeq == model2.components.map(_.toSeq).toSeq)
    assert(model.eigenvalues.toSeq == model2.eigenvalues.toSeq)
  }

  test("full scanpy chain: normalize→log1p→hvg→scale→pca scores behave") {
    val sf = TestSpark.sf
    val base = ZMatrix.fromLineitem(spark, sf)
    // dense row count from the PRE-filter matrix (hvg drops columns only)
    val nrows = base.cells.select(countDistinct(col("i"))).head().getLong(0)
    val prepped = base.rowNormalize
      .mapValues(c => org.apache.spark.sql.functions.log1p(c * 10000))
      .filterColsTopVar(5, nrows)
      .scaleCols(4)
    val m1 = graft.array.Pca.fit(prepped, nrows, ncols = 8, k = 2)
    val m2 = graft.array.Pca.fit(prepped, nrows, ncols = 8, k = 2)
    assert(m1.components.map(_.toSeq).toSeq == m2.components.map(_.toSeq).toSeq,
      "twin fits over the composed chain diverged")
    assert(m1.eigenvalues(0) >= m1.eigenvalues(1))
    assert(m1.eigenvalues(1) > 0, "second PC carries no variance")
    // scores are centered per PC (population mean ~ 0 up to 6dp rounding)
    val scores = graft.array.Pca.transform(prepped, m1).cells
    val means = scores.groupBy(col("j"))
      .agg(avg(col("v")).as("m")).collect().map(_.getDouble(1))
    assert(means.forall(m => math.abs(m) < 1e-3), means.mkString(","))
  }

  test("PCA: disjoint column supports get the dense co-moment (−μaμb), not 0") {
    // columns 0 and 1 NEVER share a stored row: sparse fit must still treat
    // the implicit zeros as zeros, i.e. cov(0,1) = E[x0·x1] − μ0μ1 = −μ0μ1,
    // not the 0.0 a missing (a,b) group would silently default to. The
    // dense twin stores the zeros explicitly, so its pair DOES co-occur —
    // model equality proves the sparse path fills the missing pair right.
    val cells = Seq((0L, 0L, 2.0), (1L, 1L, 3.0), (2L, 0L, 4.0), (3L, 1L, 5.0))
    import spark.implicits._
    val sparse = ZMatrix(cells.toDF("i", "j", "v"))
    val denseM = ZMatrix.fromDense(spark,
      Array(Array(2.0, 0.0), Array(0.0, 3.0), Array(4.0, 0.0), Array(0.0, 5.0)))
    val sModel = graft.array.Pca.fit(sparse, nrows = 4, ncols = 2, k = 2)
    val dModel = graft.array.Pca.fit(denseM, nrows = 4, ncols = 2, k = 2)
    assert(sModel.components.map(_.toSeq).toSeq == dModel.components.map(_.toSeq).toSeq,
      "sparse fit diverged from the dense twin on disjoint-support columns")
    assert(sModel.eigenvalues.toSeq == dModel.eigenvalues.toSeq)
    assert(sModel.offsets.toSeq == dModel.offsets.toSeq)
    // and the covariance is genuinely non-diagonal: the top eigenvalue of
    // [[3−2.25·?]] — sanity-pin that PC1 mixes both columns (a 0 co-moment
    // would make the columns independent and the loadings axis-aligned)
    assert(sModel.components(0).forall(_ != 0.0),
      s"PC1 axis-aligned: ${sModel.components(0).toSeq} — cov(0,1) was dropped")
  }

  test("PCA: CoMomentAgg matches a driver-computed co-moment reference") {
    // same 6dp rounding, same Jacobi — the distributed one-pass aggregate
    // must reproduce the model bit-for-bit
    val data = Array(
      Array(2.5, 2.4, 0.5), Array(0.5, 0.7, 1.1), Array(2.2, 2.9, 0.3),
      Array(1.9, 2.2, 0.6), Array(3.1, 3.0, 0.2), Array(2.3, 2.7, 0.5))
    val n = data.length
    val mm = ZMatrix.fromDense(spark, data)
    val model = graft.array.Pca.fit(mm, nrows = n.toLong, ncols = 3, k = 3)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    val mu = (0 until 3).map(j => r6(data.map(_(j)).sum / n)).toArray
    val cov = Array.tabulate(3, 3) { (a, b) =>
      r6(data.map(r => r(a) * r(b)).sum / n) - mu(a) * mu(b)
    }
    val (values, vectors) = graft.array.Pca.jacobiEigen(cov)
    val order = values.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }
    for (c <- 0 until 3) {
      assert(model.eigenvalues(c) == order(c)._1,
        s"eigenvalue $c: ${model.eigenvalues(c)} vs ${order(c)._1}")
      val w0 = (0 until 3).map(j => vectors(j)(order(c)._2)).toArray
      val pivot = w0.indices.maxBy(j => (math.abs(w0(j)), -j))
      val w = if (w0(pivot) < 0) w0.map(-_) else w0
      assert(model.components(c).toSeq == w.toSeq, s"component $c differs")
    }
  }

  test("PCA centering handles implicit zeros (sparse rows project correctly)") {
    // row 1 has NO stored cell in column 1 (implicit zero)
    val cells = Seq((0L, 0L, 2.0), (0L, 1L, 4.0), (1L, 0L, 6.0),
      (2L, 0L, 4.0), (2L, 1L, 2.0))
    import spark.implicits._
    val mm = ZMatrix(cells.toDF("i", "j", "v"))
    val model = graft.array.Pca.fit(mm, nrows = 3, ncols = 2, k = 2)
    val proj = ZLocal.toDense(graft.array.Pca.transform(mm, model), 3, 2)
    // dense PCA of [[2,4],[6,0],[4,2]] computed via the same pipeline on an
    // explicit dense matrix must agree cell-for-cell
    val denseM = ZMatrix.fromDense(spark,
      Array(Array(2.0, 4.0), Array(6.0, 0.0), Array(4.0, 2.0)))
    val dModel = graft.array.Pca.fit(denseM, nrows = 3, ncols = 2, k = 2)
    val dProj = ZLocal.toDense(graft.array.Pca.transform(denseM, dModel), 3, 2)
    for (i <- 0 until 3; c <- 0 until 2)
      assert(math.abs(proj(i)(c) - dProj(i)(c)) < 1e-9, s"cell ($i,$c)")
  }

  test("histogram matches numpy bin semantics (last bin inclusive, empties kept)") {
    import spark.implicits._
    // values 0..9 stored; bins [0,2) [2,4) [4,6) [6,8) [8,10] on [0,10]
    val hm = ZMatrix.fromDense(spark,
      Array(Array(0.0, 1.0, 2.0, 3.0, 4.0), Array(5.0, 6.0, 7.0, 8.0, 9.0)))
    val h = hm.histogram(0.0, 10.0, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fromDense drops NOTHING here (all cells stored, incl. the 0.0)
    assert(h == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // right edge lands IN the last bin; out-of-range values are excluded
    val edge = ZMatrix(Seq((0L, 0L, 10.0), (0L, 1L, 10.5), (0L, 2L, -0.1))
      .toDF("i", "j", "v"))
    val he = edge.histogram(0.0, 10.0, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(he == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
  }

  // rank_genes_groups fixture: 6 rows × 3 cols, group A = rows 0-2.
  // Column 0 mixes ties and zeros, column 1 is one big tie block (five 5s
  // + a zero), column 2 is CONSTANT (σ = 0 → z NaN, the scipy behavior).
  // Expected values derived from a numpy dense Mann–Whitney with tie
  // correction (average ranks, tsum = Σ cnt³−cnt), scanpy's z formula.
  val rgDense: Array[Array[Double]] = Array(
    Array(1.0, 5.0, 2.0),
    Array(0.0, 5.0, 2.0),
    Array(3.0, 5.0, 2.0),
    Array(0.0, 5.0, 2.0),
    Array(2.0, 5.0, 2.0),
    Array(0.0, 0.0, 2.0))

  def rgGroups = {
    import spark.implicits._
    (0L to 5L).map(i => (i, i < 3)).toDF("i", "in_a")
  }

  test("rankGenesWilcoxon matches dense Mann–Whitney fixture (ties + zeros + lfc/pts)") {
    val got = ZMatrix.fromDense(spark, rgDense).rankGenesWilcoxon(rgGroups)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(0L) == ((0.695608, 1.0, 0.666667, 0.333333)))
    assert(got(1L) == ((1.0, 0.584963, 1.0, 0.666667)))
    // constant column: z = NaN (zero variance), lfc = 0, all rows express
    val (z2, lfc2, pts2, ptsr2) = got(2L)
    assert(z2.isNaN && lfc2 == 0.0 && pts2 == 1.0 && ptsr2 == 1.0)
  }

  test("rankGenesWilcoxon: implicit zeros equal explicit stored zeros") {
    // the dense-adjustment algebra (zero tie block from n − m + zs) must
    // give the SAME answer whether zeros are stored cells or index gaps
    val stored = ZMatrix.fromDense(spark, rgDense)
    val sparse = ZMatrix(stored.cells.filter(col("v") =!= 0.0))
    val a = stored.rankGenesWilcoxon(rgGroups).collect()
      .map(r => (r.getLong(0), r.getDouble(1).toString, r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    val b = sparse.rankGenesWilcoxon(rgGroups).collect()
      .map(r => (r.getLong(0), r.getDouble(1).toString, r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(a == b)
  }

  test("rankGenesGroups: two-label case equals the one-group form and its negation") {
    import spark.implicits._
    // rows 0-2 labeled "A", rows 3-5 "B": group A's test IS the in_a form;
    // group B vs rest is the same two-sample test flipped, so z_B = −z_A
    // while lfc/pts swap roles — all checkable against rankGenesWilcoxon
    val labels = (0L to 5L).map(i => (i, if (i < 3) "A" else "B")).toDF("i", "g")
    val m = ZMatrix.fromDense(spark, rgDense)
    val all = m.rankGenesGroups(labels).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(all.size == 6) // 2 groups × 3 columns, incl. the constant column
    val one = m.rankGenesWilcoxon(rgGroups).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    def eqNaN(a: (Double, Double, Double, Double), b: (Double, Double, Double, Double)) =
      a.productIterator.zip(b.productIterator).forall { case (x: Double, y: Double) =>
        x == y || (x.isNaN && y.isNaN) }
    for (j <- 0L to 2L) {
      val (za, lfca, ptsa, ptsra) = one(j)
      assert(eqNaN(all(("A", j)), (za, lfca, ptsa, ptsra)), s"group A col $j")
      val (zb, lfcb, ptsb, ptsrb) = all(("B", j))
      if (za.isNaN) assert(zb.isNaN) else assert(zb == -za || (za == 0.0 && zb == 0.0), s"col $j: $zb vs -$za")
      assert(lfcb == -lfca || (lfca == 0.0 && lfcb == 0.0), s"col $j lfc")
      assert(ptsb == ptsra && ptsrb == ptsa, s"col $j pts swap")
    }
  }

  test("rankGenesGroups matches a local dense Mann–Whitney on random matrices") {
    import spark.implicits._
    // differential fuzz beyond the fixed fixture: random shapes with
    // ties, zeros, negatives, and unbalanced groups — the local reference
    // computes dense average ranks directly, no shared algebra
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val nR = 6 + rnd.nextInt(5)
      val dense = Array.fill(nR, 3)(
        if (rnd.nextBoolean()) 0.0 else (rnd.nextInt(7) - 2).toDouble)
      val raw = Array.fill(nR)(if (rnd.nextInt(3) == 0) "A" else "B")
      val labels = if (raw.distinct.length < 2) { raw(0) = "A"; raw(1) = "B"; raw } else raw
      val labDf = labels.zipWithIndex.toSeq.map { case (g, i) => (i.toLong, g) }.toDF("i", "g")
      val got = ZMatrix.fromDense(spark, dense).rankGenesGroups(labDf).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2),
            // negatives are in-domain for z but not for lfc (scanpy input
            // is non-negative expression): log2 of a negative mean ratio
            // is NULL — surface it as NaN for the comparison below
            if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
            r.getDouble(4), r.getDouble(5)))).toMap
      val n = nR
      for (g <- labels.distinct; j <- 0 until 3) {
        val v = dense.map(_(j))
        val ing = labels.map(_ == g)
        val ng = ing.count(identity)
        // dense average ranks
        val sorted = v.zipWithIndex.sortBy(_._1)
        val ranks = new Array[Double](n)
        var i = 0
        while (i < n) {
          var k = i
          while (k + 1 < n && sorted(k + 1)._1 == sorted(i)._1) k += 1
          val avg = (i + 1 + k + 1) / 2.0
          (i to k).foreach(t => ranks(sorted(t)._2) = avg)
          i = k + 1
        }
        val ra = v.indices.filter(ing(_)).map(ranks(_)).sum
        val tsum = v.groupBy(identity).values.map(_.length.toDouble)
          .map(c => c * c * c - c).sum
        val mu = ng * (n + 1) / 2.0
        val sig = math.sqrt(ng.toDouble * (n - ng) / 12.0 *
          ((n + 1) - tsum / (n.toDouble * (n - 1))))
        val zLoc = if (sig == 0.0) Double.NaN else (ra - mu) / sig
        val muG = v.indices.filter(ing(_)).map(v(_)).sum / ng
        val muR = v.indices.filterNot(ing(_)).map(v(_)).sum / (n - ng)
        val lfcLoc = math.log((muG + 1e-9) / (muR + 1e-9)) / math.log(2)
        val ptsLoc = v.indices.count(x => ing(x) && v(x) != 0.0).toDouble / ng
        val ptsrLoc = v.indices.count(x => !ing(x) && v(x) != 0.0).toDouble / (n - ng)
        val (z, lfc, pts, ptsr) = got((g, j.toLong))
        if (zLoc.isNaN) assert(z.isNaN, s"trial $trial ($g,$j)")
        else assert(math.abs(z - zLoc) < 1e-6, s"trial $trial ($g,$j): $z vs $zLoc")
        if (lfcLoc.isNaN) assert(lfc.isNaN, s"trial $trial ($g,$j) lfc domain")
        else assert(math.abs(lfc - lfcLoc) < 1e-6, s"trial $trial ($g,$j) lfc")
        assert(math.abs(pts - ptsLoc) < 1e-6 && math.abs(ptsr - ptsrLoc) < 1e-6,
          s"trial $trial ($g,$j) pts")
      }
    }
  }

  test("groupRowsBy: dense means count implicit zeros via the labels height") {
    import spark.implicits._
    // rows 0,2 → g=x; rows 1,3 → g=y; column 0 stores only (0,0)=4.0 for x
    val mm = ZMatrix(Seq((0L, 0L, 4.0), (1L, 0L, 6.0), (3L, 1L, 8.0))
      .toDF("i", "j", "v"))
    val labels = Seq((0L, "x"), (1L, "y"), (2L, "x"), (3L, "y")).toDF("i", "g")
    val got = mm.groupRowsBy(labels).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // x group has 2 rows; only one stores col 0 → dense mean 4/2, not 4/1
    assert(got(("x", 0L)) == ((4.0, 2L, 2.0)))
    assert(got(("y", 0L)) == ((6.0, 2L, 3.0)))
    assert(got(("y", 1L)) == ((8.0, 2L, 4.0)))
    // (x, 1) has no stored cells → absent (sum would be 0): sparse output
    assert(!got.contains(("x", 1L)))
  }

  test("corrCols matches local Pearson incl. a disjoint-support pair") {
    // cols 0 and 2 NEVER co-occur on a row (the X5 bug class): the cross
    // moment is 0, but the pair row must still appear with the dense corr
    val dense = Array(
      Array(1.0, 2.0, 0.0),
      Array(3.0, 1.0, 0.0),
      Array(0.0, 4.0, 5.0),
      Array(0.0, 3.0, 7.0))
    val sparse = ZMatrix(ZMatrix.fromDense(spark, dense).cells.filter(col("v") =!= 0.0))
    val got = sparse.corrCols(nrows = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def localCorr(a: Int, b: Int): Double = {
      val n = dense.length
      val (xs, ys) = (dense.map(_(a)), dense.map(_(b)))
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
      val (sxx, syy) = (xs.map(x => x * x).sum, ys.map(y => y * y).sum)
      val r = (sxy - sx * sy / n) /
        (math.sqrt(sxx - sx * sx / n) * math.sqrt(syy - sy * sy / n))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    assert(got.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    for (((a, b), v) <- got)
      assert(math.abs(v - localCorr(a.toInt, b.toInt)) < 1e-9, s"pair ($a,$b)")
  }

  test("regressOut matches the local closed-form OLS residual per column") {
    val d2 = Array(
      Array(1.0, 2.0),
      Array(3.0, 5.0),
      Array(2.0, 9.0))
    val mm = ZMatrix.fromDense(spark, d2)
    val x = d2.map(_.sum) // row totals, the scanpy total_counts covariate
    val n = 3.0; val sx = x.sum; val sxx = x.map(t => t * t).sum
    def fit(vs: Array[Double]): (Double, Double) = {
      val sy = vs.sum
      val sxy = vs.zip(x).map { case (v, xi) => xi * v }.sum
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (b, (sy - b * sx) / n)
    }
    val cov = mm.sumAxis1.select(col("i"), col("v").as("x"))
    val got = mm.regressOut(cov, 3).cells.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.size == 6)
    for (i <- 0 until 3; j <- 0 until 2) {
      val (b, a) = fit(d2.map(_(j)))
      val want = BigDecimal(d2(i)(j) - a - b * x(i))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(got((i.toLong, j.toLong)) == want, s"cell ($i,$j)")
    }
    // the fitted residuals of each column sum to ~0 (OLS normal equation)
    for (j <- 0 until 2)
      assert(math.abs((0 until 3).map(i => got((i.toLong, j.toLong))).sum) < 1e-5)
  }

  test("regressOut on a perfectly collinear column leaves zero residuals") {
    // every column is an exact linear function of the row total, so the
    // fit absorbs everything — residuals are identically 0 (and the 6dp
    // round emits +0.0, not -0.0)
    val lin = Array(Array(1.0, 2.0), Array(2.0, 4.0), Array(5.0, 10.0))
    val mm = ZMatrix.fromDense(spark, lin)
    val cov = mm.sumAxis1.select(col("i"), col("v").as("x"))
    val rs = mm.regressOut(cov, 3).cells.collect().map(_.getDouble(2))
    assert(rs.length == 6 && rs.forall(v => v == 0.0 &&
      java.lang.Double.doubleToRawLongBits(v) == 0L))
  }

  test("scoreGenes: set mean minus bin-matched control mean (scanpy score_genes)") {
    // dense column means: j0=2, j1=4, j2=1, j3=3 → rank asc j2,j0,j3,j1;
    // nBins=2 → bin0={j2,j0}, bin1={j3,j1}. geneSet={0} → ctrl={2}.
    val d = Array(
      Array(1.0, 3.0, 1.0, 2.0),
      Array(2.0, 4.0, 1.0, 3.0),
      Array(3.0, 5.0, 1.0, 4.0))
    val got = ZMatrix.fromDense(spark, d).scoreGenes(Seq(0L), 3, nBins = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 0.0, 1L -> 1.0, 2L -> 2.0))
  }

  test("pearsonResiduals matches the local analytic NB formula with clipping") {
    val d2 = Array(
      Array(1.0, 2.0),
      Array(3.0, 5.0),
      Array(2.0, 9.0))
    val got = ZMatrix.fromDense(spark, d2).pearsonResiduals(3, theta = 100.0)
      .cells.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rs = d2.map(_.sum); val cs = (0 until 2).map(j => d2.map(_(j)).sum)
    val total = rs.sum; val clip = math.sqrt(3.0)
    for (i <- 0 until 3; j <- 0 until 2) {
      val mu = rs(i) * cs(j) / total
      val r = (d2(i)(j) - mu) / math.sqrt(mu + mu * mu / 100.0)
      val want = BigDecimal(math.min(math.max(r, -clip), clip))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(got((i.toLong, j.toLong)) == want, s"cell ($i,$j)")
    }
    // a wildly overdispersed cell actually clips: one huge value
    val d3 = Array(Array(1.0, 1.0), Array(1.0, 1000.0))
    val got3 = ZMatrix.fromDense(spark, d3).pearsonResiduals(2)
      .cells.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val c2 = BigDecimal(math.sqrt(2.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    // (0,0): mu ≈ 0.004, x = 1 → raw residual ≈ +15.8, clips to +sqrt(2)
    assert(got3((0L, 0L)) == c2, "the rare-cell residual must clip to +sqrt(n)")
    assert(got3.values.forall(v => math.abs(v) <= c2))
  }

  test("row ops over rows split across partitions match a local reference (zero-sum row, null i)") {
    import spark.implicits._
    import graft.Num.r6
    type Cell = (Option[Long], Long, Double)
    // column-major, so every multi-cell row spans the 3 input partitions;
    // row 2 is signed and sums to 0; one cell has no row
    val cells: Seq[Cell] = Seq(
      (Some(0L), 0L, 1.0), (Some(1L), 0L, 4.0), (Some(2L), 0L, 2.0), (None, 0L, 5.0),
      (Some(0L), 1L, 2.0), (Some(1L), 1L, 5.0), (Some(2L), 1L, -2.0), (Some(3L), 1L, 7.0),
      (Some(0L), 2L, 3.0), (Some(3L), 2L, 1.0), (Some(3L), 3L, 4.0), (Some(4L), 3L, 1.0))
    // the identity map re-types the RDD as a plain tuple: toDF's encoder is
    // not derived for the method-local alias
    def matrix(cs: Seq[Cell]) = ZMatrix(spark.sparkContext
      .parallelize(cs.map { case (i, j, v) => (i, j, v) }, 3).toDF("i", "j", "v"))
    val x = matrix(cells)
    val spans = x.cells.rdd.mapPartitionsWithIndex((p, it) =>
        it.filter(!_.isNullAt(0)).map(r => r.getLong(0) -> p))
      .collect().groupBy(_._1).values.map(_.map(_._2).distinct.length)
    assert(x.cells.rdd.getNumPartitions == 3 && spans.max == 3, "fixture: a row must span the partitions")
    def got(m: ZMatrix): Seq[(Long, Long, Option[Double])] = m.cells.collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(c => (c._1, c._2))
    // the reference: cells with a null i belong to no row
    def rowSums(cs: Seq[Cell]): Map[Long, Double] =
      cs.collect { case (Some(i), _, v) => i -> v }.groupMapReduce(_._1)(_._2)(_ + _)
    def ref(cs: Seq[Cell])(f: (Long, Long, Double) => Option[Double]) =
      cs.collect { case (Some(i), j, v) => (i, j, f(i, j, v)) }.sortBy(c => (c._1, c._2))
    val rs = rowSums(cells)
    // the null-i cells' sum (5) passes >= 5, the zero-sum row passes <= 1
    type Col = org.apache.spark.sql.Column
    for ((pred, keep) <- Seq[(Col => Col, Double => Boolean)]((_ >= 5.0, _ >= 5.0), (_ <= 1.0, _ <= 1.0))) {
      val want = ref(cells.filter(_._1.exists(i => keep(rs(i)))))((_, _, v) => Some(v))
      assert(got(x.filterRowsBySum(pred)) == want)
    }
    // a zero-sum row normalizes to nulls (try_divide), not an error
    assert(got(x.rowNormalize) ==
      ref(cells)((i, _, v) => if (rs(i) == 0.0) None else Some(r6(v / rs(i)))))
    // pearson: the column sums and the total count every cell, the null-i
    // one too; a cell of a zero-sum row or column has μ = 0 and a null
    // residual (as rowNormalize's), not an ANSI error and not a clipped value
    def pearsonRef(cs0: Seq[Cell], n: Double) = {
      val crs = rowSums(cs0)
      val cs = cs0.groupMapReduce(_._2)(_._3)(_ + _)
      val total = cs0.map(_._3).sum
      val clip = math.sqrt(n)
      ref(cs0) { (i, j, v) =>
        val mu = crs(i) * cs(j) / total
        if (mu == 0.0) None
        else Some(r6(math.min(math.max((v - mu) / math.sqrt(mu + mu * mu / 100.0), -clip), clip)))
      }
    }
    assert(got(x.pearsonResiduals(5)) == pearsonRef(cells, 5))
    val counts = cells.filterNot(_._1.contains(2L))
    assert(got(matrix(counts).pearsonResiduals(4)) == pearsonRef(counts, 4))
    // column 0 sums to zero
    val zeroCol: Seq[Cell] = Seq((Some(0L), 0L, 1.0), (Some(1L), 0L, -1.0),
      (Some(0L), 1L, 2.0), (Some(1L), 1L, 3.0))
    val zc = got(matrix(zeroCol).pearsonResiduals(2))
    assert(zc == pearsonRef(zeroCol, 2) && zc.count(_._3.isEmpty) == 2, zc)
  }

  test("Linkage.average matches hand-computed UPGMA with scipy's id contract") {
    import graft.array.Linkage
    val dist = Map((0, 1) -> 1.0, (0, 2) -> 4.0, (0, 3) -> 5.0,
      (1, 2) -> 4.0, (1, 3) -> 5.0, (2, 3) -> 2.0)
    val merges = Linkage.average(4, dist)
    // (0,1)@1 -> cluster 4; (2,3)@2 -> cluster 5; then
    // d(4,5) = (d(0,2)+d(0,3)+d(1,2)+d(1,3))/4 = 4.5
    assert(merges == Seq(
      Linkage.Merge(0, 1, 1.0, 2),
      Linkage.Merge(2, 3, 2.0, 2),
      Linkage.Merge(4, 5, 4.5, 4)))
  }

  test("dendrogram end-to-end: group-corr matrix feeds driver-side linkage") {
    import graft.array.Linkage
    // the scanpy sc.tl.dendrogram composition on real testdata: the
    // distributed pseudobulk correlation (arr_group_corr's body) collects
    // to a groups² parameter, 1 - corr feeds UPGMA
    val corr = SparkEntry.queries("arr_group_corr")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(corr.size == 10) // C(5,2) priority pairs
    val ids = corr.keySet.flatMap(p => Set(p._1, p._2)).toSeq.sorted
    assert(ids == Seq(1, 2, 3, 4, 5))
    val dist = corr.map { case ((a, b), c) => (a - 1, b - 1) -> (1.0 - c) }
    val merges = Linkage.average(5, dist)
    assert(merges.length == 4 && merges.last.size == 5)
    // deterministic across re-evaluation of the distributed half
    val corr2 = SparkEntry.queries("arr_group_corr")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
    assert(corr2 == corr)
  }

  test("scoreGenes rejects a gene set that exhausts its own bins") {
    // geneSet={0,2} is ALL of bin0 — no control genes remain
    val d = Array(
      Array(1.0, 3.0, 1.0, 2.0),
      Array(2.0, 4.0, 1.0, 3.0),
      Array(3.0, 5.0, 1.0, 4.0))
    val ex = intercept[IllegalArgumentException] {
      ZMatrix.fromDense(spark, d).scoreGenes(Seq(0L, 2L), 3, nBins = 2)
    }
    assert(ex.getMessage.contains("control set is empty"))
  }

  test("downsampleCounts: heavy rows hit the target exactly, light rows pass through") {
    import org.apache.spark.sql.functions._
    val m = graft.array.ZMatrix.fromLineitem(spark, TestSpark.sf)
    val target = 50L
    val before = m.cells.groupBy("i")
      .agg(sum(col("v").cast("long")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val down = m.downsampleCounts(target)
    val after = down.cells.groupBy("i")
      .agg(sum(col("v").cast("long")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before.keySet == after.keySet)
    before.foreach { case (i, s) =>
      if (s <= target) assert(after(i) == s, s"light row $i changed: $s -> ${after(i)}")
      else assert(after(i) == target, s"row $i: ${after(i)} != $target")
    }
    assert(before.values.exists(_ > target), "fixture has no heavy rows")
    assert(before.values.exists(_ <= target) ||
      after.values.forall(_ == target))
    // no cell grows, all positive integers
    val joined = m.cells.select(col("i"), col("j"), col("v").cast("long").as("a"))
      .join(down.cells.select(col("i"), col("j"), col("v").cast("long").as("b")),
        Seq("i", "j"))
      .collect()
    assert(joined.forall(r => r.getLong(3) <= r.getLong(2) && r.getLong(3) > 0))
    // deterministic
    val twice = m.downsampleCounts(target).cells.collect().map(_.toString).sorted
    assert(twice.sameElements(down.cells.collect().map(_.toString).sorted))
  }

  test("rank/cumsum axis-0 two-level branches equal the plain-window branches") {
    val m = graft.array.ZMatrix.fromLineitem(spark, TestSpark.sf)
    def keyRk(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(keyRk(m.rankAxis0(twoLevelBound = 0L)) ==
      keyRk(m.rankAxis0(twoLevelBound = Long.MaxValue)))
    def keyV(z: graft.array.ZMatrix) = z.cells.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(keyV(m.cumsumAxis0(twoLevelBound = 0L)) ==
      keyV(m.cumsumAxis0(twoLevelBound = Long.MaxValue)))
  }

  test("digitize: numpy right=False semantics on a hand-checked fixture") {
    import spark.implicits._
    // edges 10,20,30,40: below-first → 0, [10,20) → 1, at-edge → next bin,
    // at/above last edge → 4
    val cells = Seq((0L, 0L, 5.0), (0L, 1L, 10.0), (0L, 2L, 19.0),
      (0L, 3L, 20.0), (0L, 4L, 39.0), (0L, 5L, 40.0), (0L, 6L, 99.0))
      .toDF("i", "j", "v")
    val got = graft.array.ZMatrix(cells).digitize(10.0, 10.0, 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L,
      5L -> 4L, 6L -> 4L))
  }

  test("regressOutMulti: exact fit zeroes out; residuals orthogonal to covariates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // rows i=0..5 with covariates x1 = i, x2 = i*i mod 5 (not collinear);
    // gene 0 is EXACTLY linear in them → residuals must be 0 at 6dp
    val covs = (0L to 5L).map(i => (i, i.toDouble, (i * i % 5).toDouble))
      .toDF("i", "x1", "x2")
    val lin = (0L to 5L).map(i => (i, 0L, 2.0 + 3.0 * i - 1.0 * (i * i % 5)))
    // gene 1 carries a nonlinear signal → nonzero residuals, but they must
    // be orthogonal to (1, x1, x2)
    val nl = (0L to 5L).map(i => (i, 1L, (i * i * i % 7).toDouble))
    val m = graft.array.ZMatrix((lin ++ nl).toDF("i", "j", "v"))
    val out = m.regressOutMulti(covs).cells.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    (0L to 5L).foreach { i =>
      assert(math.abs(out((i, 0L))) < 1e-6, s"exact fit must vanish at row $i")
    }
    val x = (0L to 5L).map(i => i -> (i.toDouble, (i * i % 5).toDouble)).toMap
    val r1 = (0L to 5L).map(i => out((i, 1L)))
    def dot(f: Long => Double) = (0L to 5L).map(i => out((i, 1L)) * f(i)).sum
    assert(math.abs(dot(_ => 1.0)) < 1e-4, "residuals must sum to ~0")
    assert(math.abs(dot(i => x(i)._1)) < 1e-3, "residuals ⊥ x1")
    assert(math.abs(dot(i => x(i)._2)) < 1e-3, "residuals ⊥ x2")
    assert(r1.exists(math.abs(_) > 1e-3), "nonlinear gene must keep signal")
  }

  test("combat: batch means/sds align to the gene anchor; zero-variance passes through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // gene 0: batch A cells {10,20,30}, batch B cells {100,110,120} —
    // a pure location/scale batch effect; gene 1: batch A constant {5,5}
    // (zero variance → pass-through), batch B {7,9}
    val cells = Seq(
      (0L, 0L, 10.0), (1L, 0L, 20.0), (2L, 0L, 30.0),
      (3L, 0L, 100.0), (4L, 0L, 110.0), (5L, 0L, 120.0),
      (0L, 1L, 5.0), (1L, 1L, 5.0), (3L, 1L, 7.0), (4L, 1L, 9.0)
    ).toDF("i", "j", "v")
    val batches = Seq((0L, "A"), (1L, "A"), (2L, "A"),
      (3L, "B"), (4L, "B"), (5L, "B")).toDF("i", "b")
    val out = graft.array.ZMatrix(cells).combat(batches).cells
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // gene 0: both batches map onto the same anchor — corrected values of
    // A and B coincide pointwise (same z-scores within each batch)
    assert(math.abs(out((0L, 0L)) - out((3L, 0L))) < 1e-9)
    assert(math.abs(out((1L, 0L)) - out((4L, 0L))) < 1e-9)
    assert(math.abs(out((2L, 0L)) - out((5L, 0L))) < 1e-9)
    // the anchor is the gene's grand mean: middle cells sit exactly there
    val grandMean0 = (10.0 + 20 + 30 + 100 + 110 + 120) / 6
    assert(math.abs(out((1L, 0L)) - grandMean0) < 1e-6)
    // gene 1 batch A had zero variance → uncorrected
    assert(out((0L, 1L)) == 5.0 && out((1L, 1L)) == 5.0)
    // gene 1 batch B corrected toward gene-1 grand stats, order preserved
    assert(out((3L, 1L)) < out((4L, 1L)))
  }

  test("rollingMeanAxis1 matches the per-row trailing mean of stored cells") {
    val got = m.rollingMeanAxis1(3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- dense.indices; j <- dense(i).indices) {
      val window = (math.max(0, j - 2) to j).map(dense(i))
      val want = BigDecimal(window.sum / window.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(got((i.toLong, j.toLong)) == want, s"cell ($i,$j)")
    }
  }

  test("diffAxis1 matches the dense row diff at stored cells") {
    val got = m.diffAxis1.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- dense.indices; j <- 1 until dense(i).length)
      assert(got((i.toLong, j.toLong)) == dense(i)(j) - dense(i)(j - 1))
    assert(!got.keySet.exists(_._2 == 0L), "first stored cell per row emits nothing")
  }

  test("weightedMeanAxis0 matches the dense weighted average") {
    import org.apache.spark.sql.functions._
    val got = m.weightedMeanAxis0(pmod(col("i"), lit(3L)) + 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (j <- 0 until 3) {
      val (num, den) = dense.indices.map { i =>
        val w = (i % 3) + 1
        (dense(i)(j) * w, w.toDouble)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val want = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(got(j.toLong) == want, s"col $j")
    }
  }
}
