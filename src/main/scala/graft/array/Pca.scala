package graft.array

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Principal component analysis over a coordinate-form [[ZMatrix]] — the
  * scanpy `pp.pca` step the reference's array surface feeds (zappy's raison
  * d'être is the scanpy recipe, which ends in PCA).
  *
  * Decomposition of work, 100 TB contract:
  *  - DISTRIBUTED: the column co-moment matrix Σ x_a·x_b AND the column
  *    sums via one per-row grouping over [[ZMatrix.byRow]] (the single
  *    data shuffle on i, at its explicit width: AQE would coalesce a
  *    plain group-by shuffle of a few MB into one task) + ONE
  *    [[graft.functions.CoMomentAgg]] pass — a TypedImperativeAggregate
  *    accumulating a dense upper-triangle double array per task, one
  *    buffer shipped per task (no explode, no ncols² tuple fanout).
  *  - DRIVER: the ncols×ncols covariance eigen-decomposition. The matrix is
  *    MODEL-PARAMETER-sized (ncols ≤ a few thousand — scanpy PCA runs on
  *    the ~2k highly-variable genes), same class as the IVF centroid
  *    collect; 6dp rounding of the co-moments before eigen makes the model
  *    bit-stable across partition orders.
  *  - DISTRIBUTED: projection = one scan with k codegen'd literal-array
  *    dot accumulators per row, grouped over [[ZMatrix.byRow]] (no join,
  *    no k-shuffle), minus the constant centering offset — so X is never
  *    densified even though centering would fill every implicit zero.
  */
object Pca {

  /** Trained model: `components(c)(j)` = loading of column j on PC c
    * (rows orthonormal, sign-fixed so each PC's largest-|loading| entry is
    * positive); `eigenvalues` = descending population variances along each PC;
    * `offsets(c)` = μ·w_c, the centering correction applied at projection. */
  final case class Model(components: Array[Array[Double]],
                         eigenvalues: Array[Double],
                         offsets: Array[Double])

  /** Fit a k-component model. `ncols` is the matrix width (coordinate form
    * does not store shape). Implicit zeros COUNT as zeros, matching dense
    * semantics: moments use n = nrows, not stored-cell counts. */
  def fit(m: ZMatrix, nrows: Long, ncols: Int, k: Int): Model = {
    require(k <= ncols, s"k=$k exceeds ncols=$ncols")
    import graft.functions.CoMomentAgg
    // co-moment pass: G[a][b] = Σ_i x_ia·x_ib. NOT a self-join on i (which
    // would shuffle the cell set twice and re-run the matrix lineage
    // twice) and NOT an in-row pair explode (which fans every row out to
    // nnz² Catalyst tuples): group each row's cells once — the single data
    // shuffle on i — then one CoMomentAgg global aggregate accumulates the
    // dense upper triangle AND the column sums per task and ships exactly
    // one (triLen + ncols)-double buffer per task to the driver.
    val packed = m.byRow.groupBy(col("i"))
      .agg(collect_list(struct(col("j"), col("v"))).as("row"))
      .agg(CoMomentAgg.comoments(col("row"), ncols).as("gs"))
      .head().getSeq[Double](0)
    val triLen = CoMomentAgg.triLen(ncols)
    def gAt(a: Int, b: Int): Double =
      if (a <= b) packed(CoMomentAgg.triIndex(ncols, a, b))
      else packed(CoMomentAgg.triIndex(ncols, b, a))
    val n = nrows.toDouble
    // determinism (the IVF training rule, applied correctly): rounding must
    // happen at PARAMETER scale, not data-sum scale — a 6dp round of a
    // 1e12-magnitude sum cannot absorb partition-order float noise, but
    // the same round of the n-normalized mean can. μ and G/n land on the
    // shared [[graft.Num.r6]] grid; cov then derives EXACTLY from rounded
    // inputs, so the eigen model is bit-stable across partition orders.
    import graft.Num.r6
    val mu = Array.tabulate(ncols)(j => r6(packed(triLen + j) / n))
    // the dense accumulator covers EVERY (a,b) pair uniformly: a pair with
    // disjoint column supports has G = 0 exactly, so its covariance entry
    // is r6(0/n) − μaμb = −μaμb — the correct dense-semantics value (the
    // old sparse gRows map silently left such entries at 0.0).
    val cov = Array.tabulate(ncols, ncols)((a, b) => r6(gAt(a, b) / n) - mu(a) * mu(b))
    val (values, vectors) = jacobiEigen(cov)
    // top-k by eigenvalue desc (ties: smaller original index first) with
    // sign fixed: largest-|component| entry positive — kills the ±v
    // ambiguity so twin fits are identical
    val order = values.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }.take(k)
    val comps = order.map { case (_, idx) =>
      val w = Array.tabulate(ncols)(j => vectors(j)(idx))
      val pivot = w.indices.maxBy(j => (math.abs(w(j)), -j))
      if (w(pivot) < 0) w.map(-_) else w
    }
    Model(comps, order.map(_._1), comps.map(w => w.indices.map(j => mu(j) * w(j)).sum))
  }

  /** Project to PC space: output cell (i, c, score). One scan, k literal
    * dot accumulators, one i-aggregate; rows entirely absent from the
    * store still exist in dense X (all zeros) but project to the same
    * −offset score for every such row, so they carry no information and
    * are omitted, as with every implicit coordinate. */
  def transform(m: ZMatrix, model: Model): ZMatrix = {
    val k = model.components.length
    val aggs = model.components.zipWithIndex.map { case (w, c) =>
      sum(col("v") * element_at(typedlit(w.toSeq), (col("j") + 1).cast("int"))).as(s"_c$c")
    }
    val scores = (0 until k).map(c =>
      (round(col(s"_c$c") - model.offsets(c), 6) + 0.0).as(s"_s$c"))
    ZMatrix(m.byRow.groupBy(col("i")).agg(aggs.head, aggs.tail: _*)
      .select(col("i") +: scores: _*)
      .select(col("i"), posexplode(array((0 until k).map(c => col(s"_s$c")): _*))
        .as(Seq("j", "v")))
      .select(col("i"), col("j").cast("long").as("j"), col("v")))
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix: rotations
    * kill off-diagonal mass until convergence. O(ncols³) per sweep on the
    * driver — fine for the parameter-sized ncols this is contracted to.
    * Returns (eigenvalues, eigenvector MATRIX with vectors in COLUMNS). */
  private[graft] def jacobiEigen(a0: Array[Array[Double]],
                                 maxSweeps: Int = 50,
                                 tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    // RELATIVE threshold: covariance magnitudes are data-scale (cents² can
    // be 1e10+), so an absolute tolerance would either never converge or
    // kill genuine structure on tiny-scale matrices
    val fro = math.sqrt(a.map(_.map(x => x * x).sum).sum)
    val eps = tol * math.max(fro, Double.MinPositiveValue)
    var sweep = 0
    var off = offDiag(a)
    while (off > eps * eps && sweep < maxSweeps) {
      for (p <- 0 until n - 1; q <- p + 1 until n if math.abs(a(p)(q)) > eps / (n * n)) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // equal diagonal entries → θ=0: signum(0)=0 would make the rotation
        // a no-op forever; the correct limit is the 45° rotation (t=1)
        val t = if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (j <- 0 until n) {
          val apj = a(p)(j); val aqj = a(q)(j)
          a(p)(j) = c * apj - s * aqj
          a(q)(j) = s * apj + c * aqj
        }
        for (i <- 0 until n) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    s
  }
}
