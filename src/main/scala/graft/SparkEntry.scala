package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.array.ZMatrix
import graft.ops.{Dedup, Ingest, Multimodal, Relational, Sampling, Similarity, TextOps}
import graft.streaming.Stream
import graft.zarr.Zarr

/** Driver contract — SURVEY.md §2 keys map 1:1 to `queries` keys.
  * Every SQL-expressible operator has an `oracleSql` twin with IDENTICAL
  * column names and deterministic value math (see SURVEY.md §5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  private def mat(s: SparkSession, d: String): ZMatrix = ZMatrix.fromLineitem(s, d)

  private def sfName(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  // ---- the corpus-keyed artifacts -------------------------------------
  // Every model, staged table and derived constant below is a
  // SessionCache entry keyed on (session, tag, listing signature of the
  // table it was built from): a corpus regenerated at the same path or a
  // new session misses and rebuilds. The trained models also go through
  // the durable tier, so a new session or a restarted JVM loads the
  // signature-keyed artifact instead of retraining. The model-literal
  // oracle generators ([[modelOracleFamilies]]) fetch each model through
  // the same accessor its query used. No accessor looks anything up
  // inside a build closure (SessionCache's no-nested-lookup rule).

  /** Stage the lineitem matrix as a bucketed-by-(i,j) parquet table:
    * subsequent aligned zips co-locate at load time with no Exchange
    * above the scans (ZMatrix.persistBucketed). */
  private def bucketedMat(s: SparkSession, d: String): ZMatrix = {
    val table = SessionCache.getOrBuild(s, s"bucketedCells:$d", s"$d/lineitem.parquet") {
      val t = s"graft_cells_${sfName(d)}"
      ZMatrix.persistBucketed(mat(s, d), t, s"target/tmp/bucketed_cells_${sfName(d)}")
      t
    }
    ZMatrix(s.table(table))
  }

  /** Stage the matrix twice, each side bucketed on ITS matmul join key
    * (left on "j", right on "i"): the contraction join then co-locates at
    * load time and the only exchange left in the product plan is the
    * unavoidable output (i,j) aggregate (plan-asserted in ZMatrixSpec). */
  private def contractionMats(s: SparkSession, d: String): (ZMatrix, ZMatrix) = {
    val (lt, rt) = SessionCache.getOrBuild(s, s"contractionCells:$d", s"$d/lineitem.parquet") {
      val l = s"graft_mm_left_${sfName(d)}"
      val r = s"graft_mm_right_${sfName(d)}"
      ZMatrix.persistBucketed(mat(s, d), l, s"target/tmp/mm_left_${sfName(d)}", cols = Seq("j"))
      ZMatrix.persistBucketed(mat(s, d), r, s"target/tmp/mm_right_${sfName(d)}", cols = Seq("i"))
      (l, r)
    }
    (ZMatrix(s.table(lt)), ZMatrix(s.table(rt)))
  }

  /** Orders staged as a Hive-partitioned directory tree (`o_year=1995/…`)
    * — the production fact-table layout — so q26 can prove partition
    * pruning on the directory structure itself. */
  private[graft] def partitionedOrders(s: SparkSession, d: String): DataFrame = {
    val path = SessionCache.getOrBuild(s, s"ordersByYear:$d", s"$d/orders.parquet") {
      val p = s"${GraftPaths.tmpRoot}/orders_byyear_${sfName(d)}"
      Ingest.writePartitioned(
        Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate"))), p, "o_year")
      p
    }
    s.read.parquet(path)
  }

  private val annPlanes = Similarity.hyperplanes(numPlanes = 6, dim = 64)
  private val dupPlanes = Similarity.hyperplanes(numPlanes = 6, dim = 64, seed = 7L)

  // ---- durable-model codecs --------------------------------------------
  // The trained models persist as plain nested double arrays — parquet
  // rows (i[, j], vector) reproduce them bit-exactly (no float rounding in
  // parquet's IEEE doubles), so a durable load equals the fit.
  private def saveMat(s: SparkSession, m: Array[Array[Double]], path: String): Unit =
    s.createDataFrame(m.toSeq.zipWithIndex.map { case (r, i) => (i, r.toSeq) })
      .toDF("i", "v").write.parquet(path)
  private def loadMat(s: SparkSession, path: String): Array[Array[Double]] =
    s.read.parquet(path).collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)
  private def saveMat3(s: SparkSession, m: Array[Array[Array[Double]]],
                       path: String): Unit =
    s.createDataFrame(for ((sub, i) <- m.toSeq.zipWithIndex;
                           (r, j) <- sub.toSeq.zipWithIndex)
        yield (i, j, r.toSeq))
      .toDF("i", "j", "v").write.parquet(path)
  private def loadMat3(s: SparkSession, path: String): Array[Array[Array[Double]]] =
    s.read.parquet(path).collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
      .toArray
  private def savePca(s: SparkSession, m: graft.array.Pca.Model, tmp: String): Unit = {
    saveMat(s, m.components, s"$tmp/comp")
    s.createDataFrame(m.eigenvalues.toSeq.zip(m.offsets.toSeq).zipWithIndex
        .map { case ((e, o), i) => (i, e, o) })
      .toDF("i", "eig", "off").write.parquet(s"$tmp/vec")
  }
  private def loadPca(s: SparkSession, store: String): graft.array.Pca.Model = {
    val v = s.read.parquet(s"$store/vec").collect().sortBy(_.getInt(0))
    graft.array.Pca.Model(loadMat(s, s"$store/comp"),
      v.map(_.getDouble(1)), v.map(_.getDouble(2)))
  }

  /** IVF centroids per (corpus, nlist): training is deterministic, so the
    * model is computed once and shared by every IVF query over the same
    * corpus (ann_ivf_topk, emb_neardup_ivf) — the production shape, where
    * the index model is trained once, persisted next to the corpus, and
    * reused across queries AND sessions. */
  private def ivfModel(s: SparkSession, d: String, nlist: Int): Array[Array[Double]] =
    SessionCache.durable(s, s"ivfCentroids:$d:$nlist", s"$d/embeddings.parquet")(
      Similarity.ivfCentroids(Tables.embeddings(s, d), "vec_id", "embedding", nlist))(
      (m, tmp) => saveMat(s, m, s"$tmp/cents"))(
      store => loadMat(s, s"$store/cents"))

  /** Chunk-aligned [quarter, half) row band for the pushdown-read query —
    * shared with PlanSpec's partition-count pin. */
  private[graft] def pushdownCuts(rows: Long): (Long, Long) = {
    val cut1 = rows / 4 / 1024 * 1024
    (cut1, math.max(rows / 2 / 1024 * 1024, cut1 + 1024))
  }

  /** Mix-rebalancing demo rates: keep 25% of the "crawl dump" half of the
    * sources (src10..src19), all of the curated half. Shared with the
    * generated oracle SQL, so both engines apply identical rates. */
  private val mixRates: Map[String, Double] = (10 to 19).map(i => s"src$i" -> 0.25).toMap

  /** L2-normalized embeddings (zero-norm rows dropped): the PQ staging
    * frame — normalizing first makes inner-product ADC approximate cosine.
    * The per-element divide is a staging-time transform, not a query-time
    * hot path (queries scan only the encoded codes). */
  private def normEmb(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorExprs.norm2
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d)
      .select(col("vec_id"), v.as("v"), norm2(v).as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("nvec"))
  }

  /** Whitening model of the embeddings (fit once per corpus). */
  private def whitenModelFor(s: SparkSession, d: String): graft.array.Pca.Model =
    SessionCache.durable(s, s"whiten:$d:64", s"$d/embeddings.parquet")(
      Similarity.whitenModel(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64))(savePca(s, _, _))(loadPca(s, _))

  /** Dense row count (countDistinct i) of the lineitem matrix — the shape
    * parameter dense-semantics ops (hvg, PCA) need. */
  private def matNrows(s: SparkSession, d: String): Long =
    SessionCache.getOrBuild(s, s"matNrows:$d", s"$d/lineitem.parquet")(
      java.lang.Long.valueOf(
        mat(s, d).cells.select(countDistinct(col("i"))).head().getLong(0))
    ).longValue

  /** arr_pca's 3-component model of the lineitem matrix; `mm` (the
    * matrix to fit on) is evaluated only when the model is fit. */
  private def pcaModel(s: SparkSession, d: String, mm: => ZMatrix): graft.array.Pca.Model = {
    val nrows = matNrows(s, d)
    // l_linenumber is 1-based: ncols=8 leaves column 0 implicit-zero
    // (zero variance — never enters the top-k components)
    SessionCache.durable(s, s"pca:$d:8x3", s"$d/lineitem.parquet")(
      graft.array.Pca.fit(mm, nrows, ncols = 8, k = 3))(
      savePca(s, _, _))(loadPca(s, _))
  }

  /** The full scanpy chain's preprocessed matrix: normalize+log1p
    * materialized ONCE (localCheckpoint) so the hvgScale stats aggregate,
    * the fit co-moment pass and the transform all read the cached cells
    * instead of re-running the normalize join; hvgScale selects and
    * scales columns from a single column-stats aggregate. The result
    * stays LAZY over the cached cells: its consumers (fit's co-moment
    * pass; transform) each redo only the 8-row stats aggregate + a
    * broadcast join — cheaper than a second materialization, and when the
    * model is cached transform is the sole consumer. */
  private def recipePrepped(s: SparkSession, d: String, nrows: Long): ZMatrix =
    ZMatrix(mat(s, d).rowNormalize
        .mapValues(c => log1p(c * 10000))
        .cells.localCheckpoint())
      .hvgScale(5, nrows, 4)

  /** PCA model of the full scanpy chain's preprocessed matrix; `prepped`
    * is evaluated only when the model is fit. */
  private def fullPcaModel(s: SparkSession, d: String, nrows: Long,
                           prepped: => ZMatrix): graft.array.Pca.Model =
    SessionCache.durable(s, s"fullPca:$d:8x2", s"$d/lineitem.parquet")(
      graft.array.Pca.fit(prepped, nrows, ncols = 8, k = 2))(
      savePca(s, _, _))(loadPca(s, _))

  /** PQ codebooks — trained once per corpus, shared by every PQ query
    * (same model-reuse shape as [[ivfModel]]). */
  private def pqModel(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    SessionCache.durable(s, s"pq:$d:8x16", s"$d/embeddings.parquet")(
      Similarity.pqTrain(normEmb(s, d), "vec_id", "nvec", m = 8, ksub = 16))(
      (m, tmp) => saveMat3(s, m, s"$tmp/books"))(
      store => loadMat3(s, s"$store/books"))

  /** IVF-PQ composite model: coarse centroids over the NORMALIZED corpus
    * + residual codebooks (trained once per corpus, shared). */
  private def ivfPqModel(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    SessionCache.durable(s, s"ivfpq:$d:16", s"$d/embeddings.parquet") {
      val cents = Similarity.ivfCentroids(normEmb(s, d), "vec_id", "nvec", nlist = 16)
      (cents, Similarity.ivfPqTrain(normEmb(s, d), "vec_id", "nvec", cents))
    } { case ((cents, books), tmp) =>
        saveMat(s, cents, s"$tmp/cents"); saveMat3(s, books, s"$tmp/books")
    } { store => (loadMat(s, s"$store/cents"), loadMat3(s, s"$store/books")) }

  /** IVF-OPQ model (rotation + rotated-residual codebooks; fit once per
    * corpus). Shares the IVF centroids with [[ivfPqModel]], so the two
    * stacks differ ONLY by the rotation: the recall-dominance contract is
    * apples-to-apples at equal bytes. */
  private def opqModel(s: SparkSession, d: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val (cents, _) = ivfPqModel(s, d)
    SessionCache.durable(s, s"opq:$d:16", s"$d/embeddings.parquet")(
      Similarity.ivfOpqTrain(normEmb(s, d), "vec_id", "nvec", cents)) {
      case ((rot, books), tmp) =>
        saveMat(s, rot, s"$tmp/rot"); saveMat3(s, books, s"$tmp/books")
    } { store => (loadMat(s, s"$store/rot"), loadMat3(s, s"$store/books")) }
  }

  /** The IVF-PQ codes STORED as a parquet table partitioned by list_id —
    * the production serving layout: a probe's `list_id IN (...)` filter
    * prunes whole partition directories at planning, so unprobed lists
    * are never opened (asserted on inputFiles in PlanSpec). */
  private[graft] def ivfPqCodesTable(s: SparkSession, d: String): DataFrame = {
    val (cents, books) = ivfPqModel(s, d)
    val path = SessionCache.getOrBuild(s, s"ivfPqCodes:$d", s"$d/embeddings.parquet") {
      val p = s"${GraftPaths.tmpRoot}/ivfpq_codes_${sfName(d)}"
      Ingest.writePartitioned(
        Similarity.ivfPqEncode(normEmb(s, d), "vec_id", "nvec", cents, books), p, "list_id")
      p
    }
    // explicit schema: inference would read every partition's footer at
    // analysis time — exactly the I/O the layout exists to avoid
    s.read.schema("vec_id LONG, codes ARRAY<INT>, list_id INT").parquet(path)
  }

  /** Deterministic keyword set for hybrid retrieval: the first 8 sorted
    * distinct tokens of document 0 (parameter-sized collect; ASCII
    * tokens, so Scala and SQL binary orderings agree). */
  private def queryTerms(s: SparkSession, d: String): Seq[String] =
    Tables.documents(s, d).filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
      .trim.split("\\s+").distinct.sorted.take(8).toSeq

  /** The query vector (embedding 0) — the PQ-family oracle generators
    * embed it as LUT/probe literals. */
  private def queryVec(s: SparkSession, d: String): Array[Double] =
    SessionCache.getOrBuild(s, s"queryVec:$d", s"$d/embeddings.parquet")(
      Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0).toArray)

  /** The serving batch for ann_batch_topk: vectors 0..7 as queries. */
  private def queryBatch(s: SparkSession, d: String): Seq[(Long, Array[Double])] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Labeled anchors for hard-negative mining: vectors 0..7 with labels. */
  private def anchorBatch(s: SparkSession, d: String): Seq[(Long, String, Array[Double])] =
    Tables.embeddings(s, d).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("label").cast("string"),
        col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[Double](2).toArray))
      .sortBy(_._1)

  /** The kNN-graph node shard for graph_knn: vectors 0..63 as queries. */
  private def graphBatch(s: SparkSession, d: String): Seq[(Long, Array[Double])] =
    Tables.embeddings(s, d).filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** The ONE weighted shard kNN edge construction behind graph_clusters /
    * graph_labelprop / graph_modularity (k=3, integer 4dp-cos×10⁴
    * weights): a parameter change here must stay in lockstep with the
    * shared SQL prefix [[graphEdgesSqlPrefix]] both oracles interpolate. */
  private[graft] def shardKnnEdges(s: SparkSession, d: String) =
    Similarity.batchTopK(
        Tables.embeddings(s, d).filter(col("vec_id") < 64),
        "vec_id", "embedding", graphBatch(s, d), 3, excludeSelf = true)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        round(col("cos") * 10000).cast("long").as("w"))

  /** The shared FULL-CORPUS graph construction behind the three _full
    * clustering paths (labelprop / louvain / spectral): IVF-bucketed kNN
    * edges over every vector (top-2 list probe, per-list cap — see
    * knnGraphIvf), mutual-restricted, integer 4dp-cos×10⁴ weights.
    * Materialized because every consumer reads the edge set several times
    * per round (degrees, neighbor joins, seeds) — without the cut each
    * superstep would replay the whole IVF scoring lineage. SIX _full
    * queries share it; it lives in the DURABLE tier of
    * [[graft.SessionCache]] (r18 verdict ask #1): built once, persisted
    * signature-keyed as parquet, loaded across sessions and restarts —
    * a regenerated embeddings table invalidates by listing signature. */
  private[graft] def ivfMutualEdges(s: SparkSession, d: String): DataFrame = {
    // resolve the centroid model OUTSIDE the build closure (the
    // SessionCache no-nested-lookup rule)
    val model = ivfModel(s, d, 16)
    SessionCache.durableFrame(s, s"ivfMutualEdges:$d", s"$d/embeddings.parquet") {
      Similarity.mutualEdgesWeighted(
          Similarity.knnGraphIvf(Tables.embeddings(s, d), "vec_id", "embedding",
              model, k = 5)
            .select(col("src"), col("dst"),
              round(col("cos") * 10000).cast("long").as("w")), "w")
    }
  }

  /** `anndata_roundtrip` writes its four store components as concurrent
    * jobs up to this many obs rows (8M, ~64 MB of indptr) and one after
    * another beyond it. It bounds write-side task memory; the read has one
    * plan at every size. */
  private val AnndataConcurrentWriteMaxObs = 8L << 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core ----
    "q1_pricing_summary" -> Relational.q1PricingSummary _,
    "q2_filter_pushdown" -> Relational.q2FilterPushdown _,
    "q3_shipping_priority" -> Relational.q3ShippingPriority _,
    "q4_exists_semi" -> Relational.q4ExistsSemi _,
    "q5_region_revenue" -> Relational.q5RegionRevenue _,
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue _,
    "q7_topk_orders" -> Relational.q7TopkOrders _,
    "q8_distinct" -> Relational.q8Distinct _,
    "q9_intersect" -> Relational.q9Intersect _,
    "q10_window_running" -> Relational.q10WindowRunning _,
    "q11_conditional_agg" -> Relational.q11ConditionalAgg _,
    "q12_having" -> Relational.q12Having _,
    "q13_sessionize" -> Relational.q13Sessionize _,
    "q14_asof_join" -> Relational.q14AsofJoin _,
    "q15_percentile" -> Relational.q15Percentile _,
    "q16_rollup" -> Relational.q16Rollup _,
    "q17_left_join" -> Relational.q17LeftJoin _,
    "q18_json" -> Relational.q18Json _,
    "q19_time_extract" -> Relational.q19TimeExtract _,
    "q20_above_avg" -> Relational.q20AboveAvg _,
    "q21_approx_distinct" -> Relational.q21ApproxDistinct _,
    "q23_pivot" -> Relational.q23Pivot _,
    "q25_funnel" -> Relational.q25Funnel _,
    // fact table in the production directory layout (Hive-partitioned by
    // year): the o_year predicate prunes whole partition DIRECTORIES at
    // planning — at 100 TB the other years are never listed or opened.
    // Pruning is asserted on inputFiles in PlanSpec; the oracle computes
    // the same aggregate from the unpartitioned original.
    "q27_grouping_sets" -> Relational.q27GroupingSets _,
    "q28_anti_join" -> Relational.q28AntiJoin _,
    "q29_exact_stats" -> Relational.q29ExactStats _,
    "q30_except" -> Relational.q30Except _,
    "q31_retention" -> Relational.q31Retention _,
    "q32_ntile" -> Relational.q32Ntile _,
    "q33_streaks" -> Relational.q33Streaks _,
    "q34_moving_window" -> Relational.q34MovingWindow _,
    "q35_min_cost_supplier" -> Relational.q35MinCostSupplier _,
    "q37_unpivot" -> Relational.q37Unpivot _,
    "q38_market_share" -> Relational.q38MarketShare _,
    "q39_profit" -> Relational.q39Profit _,
    "q40_waiting_suppliers" -> Relational.q40WaitingSuppliers _,
    "q41_sales_opportunity" -> Relational.q41SalesOpportunity _,
    "q42_order_dist" -> Relational.q42OrderDist _,
    "q43_window_family" -> Relational.q43WindowFamily _,
    "q44_important_parts" -> Relational.q44ImportantParts _,
    "q45_small_qty_revenue" -> Relational.q45SmallQtyRevenue _,
    // quantile sketch (R49): rows-only — sketch internals aren't SQL;
    // RelationalSpec bounds it against q15's exact percentiles
    "q46_approx_percentile" -> Relational.q46ApproxPercentile _,
    // R50: dense daily regrid per event_type with integer linear
    // interpolation of the gap days — all-BIGINT, class-1 parity
    "q47_resample" -> Relational.q47Resample _,
    // R51: SCD2 dimension-history build (lag change detection → run ids
    // → lead validity intervals), sentinel-closed current versions
    "q48_scd2" -> Relational.q48Scd2 _,
    // R52: exact trailing-7-day distinct actives via the bounded 7×
    // contribution explode (COUNT DISTINCT isn't a window function)
    "q49_sliding_distinct" -> Relational.q49SlidingDistinct _,
    // R53: peak concurrent sessions per day — boundary sweep with a
    // two-level (day-partitioned + offset-table) global prefix sum
    "q50_concurrency" -> Relational.q50Concurrency _,
    // R54: TPC-H Q19-shape disjunctive join predicate; the part-side
    // residue of the OR pushes below the join (plan-asserted)
    "q51_disjunctive" -> Relational.q51Disjunctive _,
    // R55: snapshot reconciliation diff (added/removed/changed/same)
    "q52_snapshot_diff" -> Relational.q52SnapshotDiff _,
    // R56: clamp-at-zero running balance via the Lindley-recursion
    // closed form (prefix sum − running min) — two windows, no loop
    "q53_capped_balance" -> Relational.q53CappedBalance _,
    // R57: ratio-to-report (share of parent within region)
    "q54_share_of_total" -> Relational.q54ShareOfTotal _,
    // R58: two-nation volume shipping by direction and year (Q7 flavor)
    "q55_volume_shipping" -> ((s, d) => Relational.q55VolumeShipping(s, d)),
    // R59: returned-item revenue top customers (Q10 flavor)
    "q56_returned_revenue" -> Relational.q56ReturnedRevenue _,
    // R60: promo revenue share of one ship-month (Q14 flavor)
    "q57_promo_share" -> Relational.q57PromoShare _,
    // R61: quarter's max-revenue supplier via view + scalar max (Q15 flavor)
    "q58_top_supplier" -> Relational.q58TopSupplier _,
    // R62: suppliers per part profile with NOT-IN exclusion (Q16 flavor)
    "q59_part_supplier_count" -> Relational.q59PartSupplierCount _,
    // R63: large-volume orders, HAVING-subquery semi join (Q18 flavor)
    "q60_large_orders" -> Relational.q60LargeOrders _,
    // R64: dominant suppliers by integer share test (Q20 flavor)
    "q61_dominant_suppliers" -> Relational.q61DominantSuppliers _,
    // R65: urgent-vs-low line counts by return class (Q12 flavor)
    "q62_ship_priority" -> Relational.q62ShipPriority _,
    // R66: bucketed point-in-interval range join (click→purchase attribution)
    "q63_range_join" -> ((s, d) => Relational.q63RangeJoin(s, d)),
    // R67: RFM segmentation — quartile cuts from ONE exact-percentile
    // aggregate, scan-local scores (no ntile window)
    "q64_rfm" -> ((s, d) => Relational.q64Rfm(s, d)),
    // R68: event-type transition matrix (Markov counts) — one user-
    // bounded lead window + a #types²-sized aggregate
    "q65_transitions" -> ((s, d) => Relational.q65Transitions(s, d)),
    // S28: the stateful stream face of R68 — one last-event record per
    // user, pairs emitted at arrival; matrix == batch (shared oracle)
    "stream_transitions" -> ((s, d) => Stream.transitionStream(s, d)),
    "arr_rank_cols" -> ((s, d) => mat(s, d).rankAxis0()),
    "q26_partition_pruning" -> ((s, d) =>
      partitionedOrders(s, d).filter(col("o_year") === 1997)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("rev"))),
    // hybrid skew join, oracle-checked against the PLAIN join: the hybrid
    // is row-equivalent by construction, so the DuckDB twin needs no salt.
    // hotThreshold=1000 — lineitem has ≤7 rows per orderkey, so here the
    // salted branch is empty and the hybrid runs at plain-join cost (the
    // self-tuning property; the salted path itself is exercised in
    // RelationalSpec on a synthetic 90%-hot-key fixture).
    "q24_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Relational.skewJoin(li, ord, "l_orderkey", hotThreshold = 1000L)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
    }),

    // ---- zappy array surface (matrix: i=orderkey, j=linenumber, v=quantity) ----
    "arr_log1p" -> ((s, d) => mat(s, d).log1p_.mapValues(round(_, 6)).cells),
    "arr_affine" -> ((s, d) => mat(s, d).affine(2.5, 1.0).cells),
    "arr_center_cols" -> ((s, d) => {
      val m = mat(s, d)
      m.broadcastOverCols(m.meanAxis0)((v, mv) => round(v - mv, 6) + 0.0).cells
    }),
    "arr_bool_cols" -> ((s, d) => mat(s, d).filterColsByMean(_ > 25).cells),
    // numpy vstack / anndata concat along obs: the matrix stacked on
    // itself — the second copy re-indexes by the matrix HEIGHT (max(i)+1,
    // one tiny agg job), the union itself is shuffle-free
    "arr_concat" -> ((s, d) => {
      val m = mat(s, d)
      val h = m.cells.agg(max(col("i"))).head().getLong(0) + 1
      m.vstack(m, h).cells
    }),
    // the var-axis twin: hstack re-indexes columns by the matrix WIDTH
    // (l_linenumber caps at 7, so width 8 — a constant of the schema)
    "arr_concat_cols" -> ((s, d) => mat(s, d).hstack(mat(s, d), 8).cells),
    // scanpy highly_variable_genes: top-3 columns by 6dp-rounded variance
    "arr_hvg" -> ((s, d) => mat(s, d).filterColsTopVar(3, matNrows(s, d)).cells),
    "arr_scale" -> ((s, d) => mat(s, d).scaleCols().cells),
    "arr_center_rows" -> ((s, d) => {
      val m = mat(s, d)
      val rowMeans = m.aggAxis1.select(col("i"), (col("sum_v") / col("n")).as("v"))
      m.overRows(rowMeans)((v, mv) => round(v - mv, 6) + 0.0).cells
    }),
    // matrix ⊕ matrix over BUCKETED cell storage: both sides load with the
    // (i,j) bucket layout as their partitioning, so the aligned zip's join
    // runs with no Exchange above the scans (asserted in ZMatrixSpec).
    "arr_add_matrices" -> ((s, d) => {
      val m = bucketedMat(s, d); (m + (m * 2.0)).cells
    }),
    // A53: np.where(X > 25, X, Y) where Y is X rolled one column — the
    // two footprints genuinely differ on both sides, so this exercises
    // the full-outer union combine (zipOuter), not the aligned inner zip
    "arr_where" -> ((s, d) => {
      val m = bucketedMat(s, d)
      val rolled = ZMatrix(m.cells.select(col("i"), (col("j") + 1).as("j"), col("v")))
      m.where(rolled)(_ > 25).cells
    }),
    "arr_mask_count" -> ((s, d) =>
      mat(s, d).gt(25).cells.groupBy(col("i"))
        .agg(count(when(col("v") === 1.0, 1)).as("n_hot"))),
    "arr_agg_axis0" -> ((s, d) => mat(s, d).aggAxis0),
    // A54: nan-aware reductions — NaN injected deterministically
    // (v == 25), then nansum/nanmean/counts per column
    "arr_nan_agg" -> ((s, d) =>
      mat(s, d).mapValues(v =>
        when(v === 25.0, lit(Double.NaN)).otherwise(v)).nanAggAxis0),
    "arr_median_axis0" -> ((s, d) => mat(s, d).medianAxis0),
    // numpy quantile(axis=0): quartiles of every column from ONE
    // sort-per-group aggregate (percentile's array form)
    "arr_quantile_axis0" -> ((s, d) => mat(s, d).quantileAxis0(Seq(0.25, 0.5, 0.75))),
    "arr_quantile_axis1" -> ((s, d) => mat(s, d).quantileAxis1(Seq(0.25, 0.5, 0.75))),
    "arr_rolling_rows" -> ((s, d) => mat(s, d).rollingMeanAxis1(3)),
    "arr_diff_rows" -> ((s, d) => mat(s, d).diffAxis1),
    // np.average(axis=0, weights): per-row weight w_i = (i mod 3) + 1
    "arr_weighted_mean" -> ((s, d) =>
      mat(s, d).weightedMeanAxis0(pmod(col("i"), lit(3L)) + 1)),
    "arr_minmax_axis0" -> ((s, d) => {
      val m = mat(s, d)
      m.minAxis0.withColumnRenamed("v", "min_v")
        .join(m.maxAxis0.withColumnRenamed("v", "max_v"), Seq("j"))
    }),
    "arr_agg_axis1" -> ((s, d) => mat(s, d).aggAxis1),
    "arr_var_axis1" -> ((s, d) => mat(s, d).varAxis1),
    "arr_argmax_axis0" -> ((s, d) => mat(s, d).argmaxAxis0),
    "arr_argmin_axis0" -> ((s, d) => mat(s, d).argminAxis0),
    "arr_argmax_rows" -> ((s, d) => mat(s, d).argmaxAxis1),
    "arr_cumsum_rows" -> ((s, d) => mat(s, d).cumsumAxis1.cells),
    "arr_cumsum_cols" -> ((s, d) => mat(s, d).cumsumAxis0().cells),
    "arr_clip" -> ((s, d) => mat(s, d).clip(5.0, 30.0).cells),
    "arr_agg_full" -> ((s, d) => mat(s, d).aggFull),
    // numpy.histogram of the stored values: 8 width-7 bins on [0, 56] —
    // integral width, so the floor edge math is engine-bit-identical
    "arr_histogram" -> ((s, d) => mat(s, d).histogram(0.0, 56.0, 8)),
    // np.digitize with uniform edges 10,20,30,40 (right=False)
    "arr_digitize" -> ((s, d) => mat(s, d).digitize(10.0, 10.0, 4)),
    // A51: np.bincount over the integer-valued matrix (sparse form)
    "arr_bincount" -> ((s, d) => mat(s, d).bincount()),
    // A52: np.argsort-order rank along axis=1 (per-row, ncols-bounded)
    "arr_rank_rows" -> ((s, d) => mat(s, d).rankAxis1()),
    "arr_bool_rows" -> ((s, d) => mat(s, d).filterRowsBySum(_ > 200).cells),
    "arr_slice" -> ((s, d) => mat(s, d).slice(100, 300, 2, 5).cells),
    // NumPy fancy indexing X[[7,3,11,3,42,999], :][:, [5,1,3,1]] — gather
    // with duplicates on both axes (positions remap, repeats repeat).
    "arr_fancy_index" -> ((s, d) =>
      mat(s, d).selectRows(Seq(7L, 3L, 11L, 3L, 42L, 999L))
        .selectCols(Seq(5L, 1L, 3L, 1L)).cells),
    "arr_astype" -> ((s, d) => mat(s, d).astypeInt),
    "arr_transpose" -> ((s, d) => mat(s, d).transpose.cells),
    "arr_matmul_gram" -> ((s, d) => mat(s, d).gram.cells),
    // X·w with a literal parameter vector (w_j = 1/(j+1)) — one pass,
    // no join; the PCA-projection shape
    "arr_matvec" -> ((s, d) =>
      mat(s, d).matvec(Array.tabulate(8)(j => 1.0 / (j + 1)))
        .select(col("i"), (round(col("v"), 6) + 0.0).as("v"))),
    // A22 as an oracle-checked row: same product, both sides loaded from
    // contraction-key bucketed storage (row-equivalence proven the way
    // q24 proves the salted join against its plain twin)
    "arr_matmul_bucketed" -> ((s, d) => {
      val (l, r) = contractionMats(s, d)
      l.matmul(r).cells
    }),
    "arr_rechunk" -> ((s, d) => mat(s, d).rechunk(64).cells),
    "arr_row_normalize" -> ((s, d) => mat(s, d).rowNormalize.cells),
    // scanpy pp.downsample_counts, deterministic: exact-integer floor
    // shares + md5-ranked remainder units (no RNG), rows <= target pass
    "arr_downsample" -> ((s, d) => mat(s, d).downsampleCounts(50).cells),
    // The scanpy preprocessing recipe as ONE composed plan:
    // normalize_per_cell → log1p (scaled counts) → per-gene standardize.
    // Final rounding at 4dp: the scale stage's column moments come from
    // unordered sums of irrational values, so the 1e-11 engine noise needs
    // the wider half-grid margin (SURVEY §5).
    "arr_recipe_scanpy" -> ((s, d) => {
      val normalized = mat(s, d).rowNormalize
      val lg = normalized.mapValues(c => log1p(c * 10000))
      val stats = lg.cells.groupBy(col("j")).agg(
          sum(col("v")).as("_s"), count(lit(1)).as("_n"),
          sum(col("v") * col("v")).as("_ss"))
        .select(col("j"), (col("_s") / col("_n")).as("_mu"),
          // greatest-guard vs cancellation, try_divide vs sd=0: both
          // mirror the DuckDB twin (greatest in its sqrt; x/0 = NULL)
          sqrt(greatest((col("_ss") - col("_s") * col("_s") / col("_n")) / col("_n"),
            lit(0.0))).as("_sd"))
      lg.cells.join(broadcast(stats), Seq("j"))
        .select(col("i"), col("j"),
          (round(try_divide(col("v") - col("_mu"), col("_sd")), 4) + 0.0).as("v"))
    }),
    // THE full scanpy preprocessing chain as one lineage: normalize →
    // log1p → highly-variable columns → scale → PCA scores. The Jacobi
    // eigendecomposition isn't SQL, but the FITTED model is — the
    // generated oracle (recipeFullOracles) embeds this run's components/
    // offsets as literals and re-derives preprocessing + projection.
    "arr_recipe_full" -> ((s, d) => {
      // dense-semantics row count comes from the PRE-filter matrix: hvg
      // drops COLUMNS, and a row whose only cells sat in dropped columns
      // is an all-zero row in dense terms, not a missing one — counting
      // distinct i on the filtered cells would shrink n and skew μ/cov
      // (the Pca.fit contract: n = nrows, not stored-cell counts)
      val nrows = matNrows(s, d)
      val prepped = recipePrepped(s, d, nrows)
      graft.array.Pca.transform(prepped, fullPcaModel(s, d, nrows, prepped)).cells
    }),
    // Gram matrix of the embeddings table through the array layer: the
    // 2000×64 dense matrix XᵀX (PCA prep) — shuffles on vec_id only,
    // output is a 64×64 constant.
    // scanpy pp.pca over the lineitem matrix: ONE distributed co-moment
    // pass (exact sums, 6dp-rounded model), driver-side Jacobi eigen of
    // the ncols² covariance (parameter-sized), one-scan k-accumulator
    // projection with constant centering offsets — X is never densified.
    // No oracle: eigendecomposition isn't SQL — orthonormality, variance
    // preservation, decorrelation, and sparse/dense equivalence are
    // scalatest-asserted (ZMatrixSpec; SURVEY §5).
    "arr_pca" -> ((s, d) => {
      // materialize the matrix ONCE (the arr_recipe_full pattern): fit needs
      // a row count + the co-moment pass and transform a third pass —
      // uncheckpointed, each re-ran the whole lineitem aggregation lineage.
      val mm = graft.array.ZMatrix(mat(s, d).cells.localCheckpoint())
      graft.array.Pca.transform(mm, pcaModel(s, d, mm)).cells
    }),
    "arr_gram_embeddings" -> ((s, d) => {
      val cells = Tables.embeddings(s, d).select(col("vec_id").as("i"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("j", "v")))
      ZMatrix(cells.select(col("i"), col("j").cast("long").as("j"), col("v")))
        .gram.mapValues(c => round(c, 4) + 0.0).cells
    }),
    // pseudobulk: aggregate matrix rows by the order's priority label
    // (scanpy sc.get.aggregate — dense means, group sizes from the obs index)
    "arr_groupby_rows" -> ((s, d) => {
      val labels = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"), col("o_orderpriority").as("g"))
      mat(s, d).groupRowsBy(labels)
    }),
    "arr_corr_cols" -> ((s, d) => mat(s, d).corrCols(matNrows(s, d))),
    // ComBat-lite batch correction: order status as the batch covariate
    "arr_combat" -> ((s, d) => {
      val batches = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"), col("o_orderstatus").as("b"))
      mat(s, d).combat(batches).cells
    }),
    // rank_genes_groups: urgent orders vs rest, per linenumber-gene
    "arr_rank_genes" -> ((s, d) => {
      val groups = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"),
          (col("o_orderpriority") === "1-URGENT").as("in_a"))
      mat(s, d).rankGenesWilcoxon(groups)
    }),
    // the scanpy DEFAULT form: every priority label vs rest in one pass
    "arr_rank_genes_groups" -> ((s, d) => {
      val labels = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"), col("o_orderpriority").as("g"))
      mat(s, d).rankGenesGroups(labels)
    }),
    // scanpy regress_out(total_counts): per-column dense OLS residuals
    // against the row totals, closed form — one co-keyed fact join + a
    // broadcast-scale fit table (see ZMatrix.regressOut)
    "arr_regress_out" -> ((s, d) => {
      val m = mat(s, d)
      m.regressOut(m.sumAxis1.select(col("i"), col("v").as("x")), matNrows(s, d)).cells
    }),
    // multi-covariate regress_out: order total (kilodollar integers) +
    // order year as the two covariates, closed-form 3×3 solve in
    // lockstep arithmetic with the oracle
    "arr_regress_multi" -> ((s, d) => {
      val covs = Tables.orders(s, d).select(col("o_orderkey").as("i"),
        round(col("o_totalprice") / 1000).cast("double").as("x1"),
        (year(col("o_orderdate")) - 1995).cast("double").as("x2"))
      mat(s, d).regressOutMulti(covs).cells
    }),
    // scanpy score_genes: gene set {1,3} vs expression-bin-matched
    // controls (deterministic whole-bin variant, 2 rank bins)
    "arr_score_genes" -> ((s, d) =>
      mat(s, d).scoreGenes(Seq(1L, 3L), matNrows(s, d), nBins = 2)),
    // scanpy normalize_pearson_residuals (analytic NB residuals,
    // θ=100, clip ±sqrt(n)) — the modern normalization replacing
    // normalize+log1p+scale in current scanpy workflows
    "arr_pearson_residuals" -> ((s, d) =>
      mat(s, d).pearsonResiduals(matNrows(s, d)).cells),
    // scanpy sc.tl.dendrogram's DISTRIBUTED half: correlation between the
    // per-group pseudobulk expression profiles (exactly the matrix scanpy
    // hands scipy linkage). Profiles scale to exact integers (×1e6 of the
    // 6dp pseudobulk mean — correlation is scale-invariant) so every
    // moment sum is order-free; the driver-side UPGMA over this
    // parameter-sized matrix is array.Linkage (scalatest-pinned).
    "arr_group_corr" -> ((s, d) => {
      val labels = Tables.orders(s, d)
        .select(col("o_orderkey").as("i"), col("o_orderpriority").as("g"))
      val prof = mat(s, d).groupRowsBy(labels)
        .select(substring(col("g"), 1, 1).cast("long").as("i"), col("j"),
          round(col("mean_v") * 1e6).as("v"))
      ZMatrix(prof).transpose.corrCols(8)
    }),
    "q22_sql_surface" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
              |FROM lineitem_v GROUP BY 1""".stripMargin)
    }),
    "zarr_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarr_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt)
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // Z31: in-place REGION assignment (zarr-python z[r0:r1, :] = x) — the
    // first chunk-row band is rewritten with shifted values through the
    // append path's atomic chunk replacement; untouched chunks never open
    "zarr_region_update" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrru_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt)
      val band = graft.array.ZMatrix(
        m.cells.filter(col("i") < 1024)
          .select(col("i"), col("j"), (col("v") + 1000.0).as("v")))
      Zarr.updateRegion(band, path, rowStart = 0,
        bandRows = math.min(1024L, rows))
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // Z32: zarr-python append(x, axis=0) — the store is built from a
    // deliberately UNALIGNED prefix (odd row count), so the append
    // read-modify-writes the ragged boundary chunk exactly like
    // zarr-python re-encodes its last chunk; the read-back must equal
    // the full matrix (same oracle as the roundtrip)
    "zarr_append" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val split = math.max(1L, (rows * 2 / 3) | 1L)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrap_$sfName"
      Zarr.write(graft.array.ZMatrix(m.cells.filter(col("i") < split)),
        path, split, cols, chunkRows = 1024, chunkCols = cols.toInt)
      val block = graft.array.ZMatrix(m.cells.filter(col("i") >= split)
        .select((col("i") - split).as("i"), col("j"), col("v")))
      Zarr.appendRows(block, path, rows - split)
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // Z34: resize DOWN to a deliberately unaligned (odd) row count — the
    // truncated rows must read as gone, chunks below survive untouched
    "zarr_resize" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val split = math.max(1L, (rows * 2 / 3) | 1L)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrrs_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt)
      Zarr.resizeRows(path, split)
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // the roundtrip through BLOSC(lz4, byte-shuffle) frames — zarr-python's
    // v2 DEFAULT compressor, i.e. the wire format most real community
    // anndata/zarr stores are written in. Same cells, same oracle; the
    // compressed representation is the thing under test.
    "zarr_blosc_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrbl_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt,
        comp = "blosc")
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // DSv2 range-pushdown read: the i-range predicate prunes whole CHUNK
    // partitions at planning (SupportsPushDownFilters → chunk-grid
    // intersection), so at 100 TB the unprobed bands are never opened —
    // the Zarr twin of q26's Hive-partition pruning. Oracle filters the
    // same range on the base cells.
    "zarr_pushdown_read" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrpd_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt)
      // chunk-aligned quarter..half band, scale-adaptive (≥1 band at any sf)
      val (cut1, cut2) = pushdownCuts(rows)
      s.read.format("zarr").load(path)
        .filter(col("i") >= cut1 && col("i") < cut2 && col("v") =!= 0.0)
        .select(col("i"), col("j"), col("v"))
    }),
    // the v3 + standalone-zstd combination — zarr-python's v3 DEFAULT wire
    // format (zstd frames via the zstd-jni already on Spark's classpath),
    // so a store written here opens in stock zarr-python v3 with no codec
    // configuration at all. Same cells, same oracle as the other roundtrips.
    // on-disk rechunk (Z30): v2/zlib (1024×3 grid) → v3/zstd (4096×cols)
    // in one distributed pass; the destination store's cells must equal
    // the matrix exactly — format AND layout conversion, oracle-checked
    "zarr_rechunk_store" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val src = s"${GraftPaths.tmpRoot}/zarrrc_src_$sfName"
      val dst = s"${GraftPaths.tmpRoot}/zarrrc_dst_$sfName"
      Zarr.write(m, src, rows, cols, chunkRows = 1024, chunkCols = 3,
        zlib = true)
      Zarr.rechunkStore(s, src, dst, chunkRows = 4096,
        chunkCols = cols.toInt, format = 3, comp = "zstd")
      Zarr.read(s, dst).cells.filter(col("v") =!= 0.0)
    }),
    "zarr_zstd_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrzs_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt,
        format = 3, comp = "zstd")
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // MISSING-CHUNK fill_value semantics: only the rows below a
    // chunk-aligned cut are written, so every chunk above it has NO file
    // in the store — the zarr spec says such chunks read as fill_value
    // (-1 here, distinguishable from data and from written-chunk zeros...
    // which are ALSO fill in a fresh store: the writer initializes chunk
    // buffers to fill, so the dense contract is uniform and the oracle
    // can predict every grid cell). ZarrSpec asserts the files above the
    // cut genuinely don't exist — this query proves reading them back
    // dense yields exactly the predicted fill/data split per column.
    "zarr_fillvalue" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val cut = rows / 2 / 1024 * 1024
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrfill_$sfName"
      Zarr.write(ZMatrix(m.cells.filter(col("i") < cut)), path, rows, cols,
        chunkRows = 1024, chunkCols = cols.toInt, fill = -1.0)
      Zarr.read(s, path).cells.groupBy(col("j")).agg(
        count(when(col("v") === -1.0, 1)).as("n_fill"),
        count(when(col("v") =!= -1.0, 1)).as("n_dense"),
        sum(when(col("v") =!= -1.0, col("v"))).as("sum_v"))
    }),
    // the same cells through a SMALL dtype (f2 half floats — quantities
    // are integers 1..50, exact in a 10-bit mantissa): community stores
    // routinely ship f2/u1/i2 and the engine must not widen-or-die
    "zarr_f2_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrf2_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt,
        dtype = "<f2")
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // rank-1 VLEN STRING roundtrip — the anndata obs/var INDEX shape
    // (v2 "|O" dtype + numcodecs vlen-utf8, blosc-wrapped). c_custkey is
    // dense 0-based in this testdata, so it IS the array index with no
    // global window; the string content exercises real name text.
    "zarr_string_roundtrip" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey").cast("long").as("i"), col("c_name").as("s"))
      val n = c.agg(max(col("i"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrstr_$sfName"
      Zarr.writeStringVector(c, path, n, chunk = 1024, comp = "blosc")
      // drop fill rows so key gaps (if any) can't desync from the oracle —
      // the numeric roundtrips' =!= 0.0 rule, for strings
      Zarr.readStringVector(s, path).filter(col("s") =!= "")
    }),
    // same roundtrip through the Zarr v3 layout (zarr.json, c/ci/cj keys,
    // gzip codec), SHARDED: each 1024-row shard object packs four 256-row
    // inner chunks + an end index — proves the store format that keeps the
    // object count sane at 100 TB preserves the cells exactly
    "zarr_v3_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarr3_$sfName"
      Zarr.write(m, path, rows, cols, chunkRows = 1024, chunkCols = cols.toInt,
        zlib = true, format = 3, innerRows = 256, innerCols = cols.toInt)
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // the reference's ACTUAL entry shape — from_zarr(store, key): the
    // matrix is the X array inside an anndata-style GROUP store, written
    // with group metadata and read back by key navigation ("store#X")
    "zarr_group_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrg_$sfName"
      Zarr.write(m, s"$path#X", rows, cols, chunkRows = 1024, chunkCols = cols.toInt)
      Zarr.read(s, path, "X").cells.filter(col("v") =!= 0.0)
    }),
    // the SPARSE X shape real anndata stores persist (csr_matrix group:
    // data/indices/indptr + encoding attrs): the lineitem matrix written
    // as CSR — distributed prefix-sum indptr, major/minor-ordered flat
    // arrays — and re-expanded to coordinates by the chunk-scan reader
    "zarr_csr_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrcsr_$sfName"
      Zarr.delete(path, recursive = true)
      Zarr.writeSparse(m, s"$path#X", rows, cols, chunk = 8192, comp = "blosc")
      Zarr.readSparse(s, path, "X").cells
    }),
    // the same store in CSC orientation (anndata var-major layout) — the
    // major/minor swap is the only difference, so a pass proves both
    // orientations of the indptr expansion
    "zarr_csc_roundtrip" -> ((s, d) => {
      val m = mat(s, d)
      val dims = m.cells.agg(max(col("i")), max(col("j"))).head()
      val (rows, cols) = (dims.getLong(0) + 1, dims.getLong(1) + 1)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrcsc_$sfName"
      Zarr.delete(path, recursive = true)
      Zarr.writeSparse(m, s"$path#X", rows, cols, chunk = 8192, csc = true,
        format = 3)
      Zarr.readSparse(s, path, "X").cells
    }),
    // the full anndata composition in ONE store: sparse CSR X + vlen
    // string obs index + categorical obs column + dense 2-D obsm array,
    // written, navigated back by key, and JOINED into a typed per-row
    // analysis — proves the store pieces compose, not just exist
    "anndata_roundtrip" -> ((s, d) => {
      import s.implicits._
      // both inputs feed MULTIPLE store components: m the CSR write and
      // the obsm stats build, orders the nObs scalar + obs index join +
      // label collect + code write. Checkpoint each once (the arr_pca
      // pattern) so the lineitem aggregate and the orders scan run once,
      // not per consumer — the write phase is 4 independent store
      // components and was re-deriving its inputs 2-4x.
      val m = graft.array.ZMatrix(mat(s, d).cells.localCheckpoint())
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
        .localCheckpoint()
      val customer = Tables.customer(s, d)
      val nObs = orders.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/anndata_$sfName"
      Zarr.delete(path, recursive = true)
      // the four store components are DISJOINT subtrees and their shared
      // inputs (m, orders) are already eagerly checkpointed — submit the
      // four writes as concurrent jobs on small stores (Spark's scheduler
      // interleaves them over the one executor pool; each write alone
      // underfills 32 slots, so overlap is near-free wall-clock). Past
      // AnndataConcurrentWriteMaxObs the writes run sequentially instead:
      // 4 concurrent fact-scale jobs multiply peak task memory ~4x and the
      // sf10 gate's stats aggregate OOMs under the harness heap —
      // concurrency is a small-store latency trick, not the at-scale plan.
      // Group metadata is pre-created so the writers' ensure-step never
      // races on the same root .zgroup file.
      Zarr.ensureGroupMeta(path, Seq("obs", "index"), 2)
      Zarr.ensureGroupMeta(path, Seq("obsm", "X_stats"), 2)
      locally {
        val wX = () =>
          Zarr.writeSparse(m, s"$path#X", nObs, 8, chunk = 8192, comp = "blosc")
        val wIdx = () => {
          val names = orders.join(customer, col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey").as("i"), col("c_name").as("s"))
          Zarr.writeStringVector(names, s"$path#obs/index", nObs, chunk = 4096,
            comp = "blosc")
        }
        val wPrio = () => {
          val labels = orders.select(col("o_orderpriority")).distinct()
            .collect().map(_.getString(0)).sorted.toSeq // 5 labels — parameter-sized
          val codes = orders.select(col("o_orderkey").as("i"),
            (array_position(typedlit(labels), col("o_orderpriority")) - 1)
              .cast("double").as("v"))
          Zarr.writeVector(codes, s"$path#obs/priority", nObs, chunk = 8192,
            dtype = "|i1")
          Zarr.writeAttrs(s"$path#obs/priority",
            s"""{"categories": [${labels.map(l => "\"" + l + "\"").mkString(",")}]}""")
        }
        val wStats = () => {
          val stats = m.cells.groupBy(col("i"))
            .agg(sum(col("v")).as("qty"), count(lit(1)).cast("double").as("n"))
            .select(col("i"), explode(array(
              struct(lit(0L).as("j"), col("qty").as("v")),
              struct(lit(1L).as("j"), col("n").as("v")))).as("e"))
            .select(col("i"), col("e.j").as("j"), col("e.v").as("v"))
          Zarr.write(ZMatrix(stats), s"$path#obsm/X_stats", nObs, 2,
            chunkRows = 4096, chunkCols = 2)
        }
        val writes = Seq(wX, wIdx, wPrio, wStats)
        if (nObs + 1 <= AnndataConcurrentWriteMaxObs) {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          import scala.concurrent.duration.Duration
          writes.map(w => Future(w())).foreach(Await.result(_, Duration.Inf))
        } else writes.foreach(_())
      }
      // read EVERYTHING back from the store and compose in ONE aligned
      // pass: each task reads its obs-range slice of ALL FOUR components
      // (index strings, priority codes, X row sums via its indptr slice,
      // the obsm column) and emits the composed rows directly: zero joins,
      // zero shuffles, one job. The row set matches the oracle's join of
      // the four components: qty is NULL exactly where a COO groupBy has
      // no group, n_lines != 0 is the same dense-value predicate, and the
      // qty sums stay exact (integer quantities, order-free under double
      // addition).
      Zarr.readObsAligned(s, path, Seq(
          Zarr.ObsString("obs/index", "name"),
          Zarr.ObsCategorical("obs/priority", "priority"),
          Zarr.ObsSparseSum("X", "qty"),
          Zarr.ObsDense("obsm/X_stats", 1, "n_lines")))
        .filter(col("qty").isNotNull && col("n_lines") =!= 0.0)
        .select(col("i"), col("name"), col("priority"), col("qty"), col("n_lines"))
    }),
    // rank-1 store roundtrip (anndata obs-column shape): per-order quantity
    // totals written as a TRUE 1-D Zarr array (1-element shape/chunks,
    // bare chunk keys) and read back dense — absent chunks materialize as
    // fill, which the oracle reproduces with a range left-join
    "zarr_vector_roundtrip" -> ((s, d) => {
      val sums = mat(s, d).sumAxis1
      val n = sums.agg(max(col("i"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrv_$sfName"
      Zarr.writeVector(sums, path, n, chunk = 8192, format = 3)
      Zarr.readVector(s, path)
    }),
    // Z33: rank-1 append (the obs-column face of Z32) — unaligned odd
    // prefix, appended block in block-local coordinates, read-back must
    // equal the full vector (same oracle as the vector roundtrip)
    "zarr_vector_append" -> ((s, d) => {
      val sums = mat(s, d).sumAxis1
      val n = sums.agg(max(col("i"))).head().getLong(0) + 1
      val split = math.max(1L, (n * 2 / 3) | 1L)
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrva_$sfName"
      Zarr.writeVector(sums.filter(col("i") < split), path, split,
        chunk = 8192, format = 3)
      Zarr.appendVector(
        sums.filter(col("i") >= split)
          .select((col("i") - split).as("i"), col("v")),
        path, n - split)
      Zarr.readVector(s, path)
    }),
    // Z35: rank-3 dense zarr v2 roundtrip (graft.zarr.ZarrNd — the tensor
    // face beyond the 2-D matrix engine; closes the r17 verdict's rank
    // boundary). Deterministic cube from lineitem (mod-folded coordinates,
    // exact integral sums), chunks (5,3,4) over shape (32,8,6) so every
    // axis has a ragged edge; zero sums cannot occur (quantity >= 1), so
    // the non-fill read-back equals the aggregate and the oracle is the
    // same GROUP BY — no dense cross join needed.
    "zarr_cube_roundtrip" -> ((s, d) => {
      val cube = Tables.lineitem(s, d).select(
          (col("l_orderkey") % 32).cast("long").as("i0"),
          (col("l_linenumber") % 8).cast("long").as("i1"),
          (col("l_suppkey") % 6).cast("long").as("i2"),
          col("l_quantity").cast("double").as("v"))
        .groupBy(col("i0"), col("i1"), col("i2"))
        .agg(sum(col("v")).as("v"))
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrcube_$sfName"
      graft.zarr.ZarrNd.write(cube, path, Seq(32L, 8L, 6L), Seq(5, 3, 4))
      graft.zarr.ZarrNd.read(s, path).filter(col("v") =!= 0.0)
    }),
    // A55: N-D COMPUTE over the rank-3 store — numpy X.sum(axis=2) read
    // straight off the Z35 tensor (store → coordinate frame → one
    // groupBy): the ufunc/reduction surface generalizes past rank 2 by
    // construction, because the coordinate form makes an axis reduction
    // a key projection. Fill cells are exact zeros over an integral-sum
    // cube, so the reduction equals the DuckDB aggregate directly.
    "arr_cube_reduce" -> ((s, d) => {
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrcube_$sfName"
      // stage unconditionally (tiny store): an exists-probe would reuse a
      // stale cube after the corpus is regenerated in place
      queries("zarr_cube_roundtrip")(s, d).count()
      graft.zarr.ZarrNd.read(s, path)
        .groupBy(col("i0"), col("i1"))
        .agg(sum(col("v")).as("v"))
        .filter(col("v") =!= 0.0)
    }),
    // A55's slicing face: numpy X[8:24, 2:7, 1:5] as a chunk-grid
    // intersection at planning — readRange lists/opens ONLY intersecting
    // chunks (pruning proven by corrupted-unprobed-chunk spec), global
    // coordinates preserved; same staged cube, window-filtered oracle
    "arr_cube_slice" -> ((s, d) => {
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrcube_$sfName"
      queries("zarr_cube_roundtrip")(s, d).count()
      graft.zarr.ZarrNd.readRange(s, path,
          Seq((8L, 24L), (2L, 7L), (1L, 5L)))
        .filter(col("v") =!= 0.0)
    }),
    // datetime64[ns] rank-1 array (anndata obs time column): event
    // timestamps as epoch NANOS — values ~1.8e18 exceed double's 2^53
    // exact range, so a hash-exact pass proves the typed long path never
    // routes through the double substrate
    "zarr_datetime_roundtrip" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
      val nanos = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        // TIMESTAMP_NTZ (what the parquet now carries): unix_micros only
        // accepts TIMESTAMP, so cast first — session tz is pinned UTC, so
        // the NTZ wall-clock IS the UTC instant, matching DuckDB epoch_ns
        // on its naive TIMESTAMP. This type mismatch silently dropped Z22
        // from CORRECTNESS_r10 (Verify caught the AnalysisException).
        case org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col("ts").cast("timestamp")) * 1000L
        case _ => unix_micros(col("ts")) * 1000L
      }
      val n = ev.agg(max(col("event_id"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrdt_$sfName"
      Zarr.delete(path, recursive = true)
      Zarr.writeTimeVector(ev.select(col("event_id").as("i"), nanos.as("v")),
        s"$path#obs/ts", n, chunk = 4096, comp = "blosc")
      // the STORE holds full nanos (ZarrSpec proves bit-exactness past
      // 2^53); the comparison surface truncates to micros because DuckDB
      // 1.0 reads ns-parquet as micro TIMESTAMP — the magnitude (~1.7e18)
      // still exceeds double range, so a double transit would corrupt it
      Zarr.readTimeVector(s, path, "obs/ts")
        .select(col("i"), (expr("v div 1000") * 1000).as("v"))
    }),
    // anndata boolean mask column (|b1, one byte per element): a keep-mask
    // over documents stored as a rank-1 bool array and read back
    "zarr_bool_mask" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val mask = docs.select(col("doc_id").as("i"),
        when(graft.ops.TextOps.nTokens(col("text")) >= 40, 1.0).otherwise(0.0).as("v"))
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrb_$sfName"
      Zarr.writeVector(mask, s"$path#obs/keep", n, chunk = 4096,
        dtype = "|b1", format = 3)
      Zarr.readVector(s, path, "obs/keep")
    }),
    // anndata categorical column roundtrip: the documents source column
    // stored as an int-code rank-1 array + `categories` attribute, read
    // back as labels — oracle = the original column
    "zarr_categorical_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = docs.select(col("source")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val codes = docs.select(col("doc_id").as("i"),
        (array_position(typedlit(labels), col("source")) - 1).cast("double").as("v"))
      val n = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/zarrc_$sfName"
      Zarr.writeVector(codes, s"$path#obs/source", n, chunk = 4096, dtype = "<i4")
      // Jackson, not string concatenation: labels with quotes/backslashes
      // must escape correctly (the Verify.scala JSON rule)
      val catsJson = "{\"categories\": " +
        new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(labels.toArray) + "}"
      Zarr.writeAttrs(s"$path#obs/source", catsJson)
      Zarr.readCategorical(s, path, "obs/source")
    }),

    // ---- LLM-pipeline: dedup ----
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text")),
    // normalize-then-match dedup: case/punct/whitespace variants collapse;
    // md5(canon) grouping keeps the shuffle digest-sized
    // L58: dedup AUDIT report — the cluster-size count-of-counts over
    // canonical dedup (how much mass sits in 1-member vs n-member
    // groups): the number a data owner reads before deciding thresholds.
    // Group-sized aggregate on top of the canonical chain; 1 scan.
    "dedup_report" -> ((s, d) =>
      Dedup.canonicalDedup(Tables.documents(s, d), "doc_id", "text")
        .filter(col("doc_id") === col("keeper"))
        .groupBy(col("n_members"))
        .agg(count(lit(1)).as("n_groups"),
          sum(col("n_members")).as("n_docs"))),
    "dedup_canonical" -> ((s, d) =>
      Dedup.canonicalDedup(Tables.documents(s, d), "doc_id", "text")),
    // staged cascade with reason codes (L30): exact → canonical →
    // simhash-identical, each stage over the previous stage's survivors
    "dedup_cascade" -> ((s, d) =>
      Dedup.dedupCascade(Tables.documents(s, d), "doc_id", "text")),
    "dedup_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(Tables.documents(s, d), "doc_id", "text",
        numHashes = 32, bandsN = 16, shingle = 3, minJaccard = 0.5)),
    // L32: EXACT similarity join (prefix filtering) — the zero-recall-loss
    // counterpart of the minhash candidates above, same 3-gram shingles;
    // integer cross-multiply threshold, full DuckDB oracle. The whole
    // shingle family (this, containment, the cascade, the streaming gate)
    // probes ONE session-cached inverted index (Dedup.corpusShingles) —
    // the structure the pipeline maintains once — instead of each query
    // rebuilding it (the r16 s/query item).
    "dedup_jaccard_join" -> ((s, d) =>
      Dedup.jaccardJoinToks(Dedup.corpusShingles(s, d), minJaccardPct = 50)),
    // the DEFAULT consumer shape of L32 (r18 verdict ask #3): the same
    // exact prefix-filtered join, but routed through connected components
    // to one (doc_id, component) row per clustered doc — cluster-sized
    // output where the pair relation is output-bound (47× at sf1 under
    // mass duplication); pair emission above stays opt-in
    "dedup_jaccard_components" -> ((s, d) =>
      Dedup.jaccardDedup(Dedup.corpusShingles(s, d), minJaccardPct = 50)),
    // L63: asymmetric containment join ("A mostly inside B") — exact by
    // the one-sided prefix filter; threshold 60% of A's shingles
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentJoinToks(Dedup.corpusShingles(s, d), minContainPct = 60)),
    // L69: the containment CASCADE (the production shape): the exact
    // containment verify bounded to md5-minhash banded-LSH candidate
    // pairs — output ⊆ dedup_containment at the same threshold, with the
    // identical (inter, sz_a) on every emitted pair; the md5-60 hash
    // bridge makes blocking + verify oracle-expressible end to end
    "dedup_containment_cascade" -> ((s, d) =>
      Dedup.containmentCascade(Dedup.corpusShingles(s, d), minContainPct = 60,
        numHashes = 16, bandsN = 8)),
    // L64: per-source dedup savings report (docs/tokens before vs after
    // canonical dedup) — the epoch-count input a curation run publishes
    "dedup_savings" -> ((s, d) =>
      Dedup.savingsReport(Tables.documents(s, d), "doc_id", "text", "source")),
    // L65: quality-keeper dedup — keep the HIGHEST-quality cluster
    // member (exact e4-integer argmax, no window)
    "dedup_keep_best" -> ((s, d) =>
      Dedup.qualityKeeperDedup(Tables.documents(s, d), "doc_id", "text")),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d), "doc_id", "text")),
    // cross-document duplicated 8-gram spans: the per-doc duplicated
    // fraction (filter signal) and the keep-first span removal rewrite
    "text_dupspan_score" -> ((s, d) =>
      Dedup.dupSpanScore(Tables.documents(s, d), "doc_id", "text")),
    "text_dupspan_strip" -> ((s, d) =>
      Dedup.dupSpanStrip(Tables.documents(s, d), "doc_id", "text")),
    // Components over the simhash near-dup graph (hamming ≤ 3): every stage
    // (exact pre-pass, fingerprint, pigeonhole pairs, min-label propagation)
    // has a DuckDB twin, so keeper selection is oracle-checked end-to-end.
    // Exact duplicates are collapsed BEFORE simhash — identical texts are
    // the only systematic source of hot fingerprint buckets, so after the
    // pre-pass the production maxBucket=1000 cap is safe here too: a capped
    // bucket would need >1000 DISTINCT texts sharing a 15-bit block key.
    // The oracle CTE applies the same pre-pass, so both engines compute
    // components over the exact-deduped corpus.
    "dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val kept = docs.join(keep, Seq("doc_id"), "left_semi")
      Dedup.connectedComponents(
        Dedup.simhashPairs(Dedup.simhash(kept, "doc_id", "text")))
    }),
    "emb_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        dupPlanes, minCos = 0.3)),
    // IVF-pruned near-dup (rows-only: centroid training isn't SQL);
    // recall vs the hyperplane pair set asserted in SimilaritySpec
    "emb_neardup_ivf" -> ((s, d) =>
      Similarity.nearDupPairsIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        ivfModel(s, d, 16), minCos = 0.3)),
    // SemDeDup: cluster-then-prune semantic deduplication — IVF-bucketed
    // near-dup pairs → connected components → min-id keeper per group.
    // No oracle (centroid training isn't SQL); planted-duplicate recall,
    // keeper rules, and determinism are scalatest-asserted (SURVEY §5).
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        ivfModel(s, d, 16), minCos = 0.3)),

    // ---- LLM-pipeline: similarity search ----
    "ann_cosine_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), 50)),
    "ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), 10, annPlanes)),
    // L34: metadata-FILTERED vector search (the vector-DB predicate +
    // top-k shape): the filter semi-joins BELOW the scoring, so only
    // qualifying vectors are ever scored
    "ann_filtered_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(
        Tables.embeddings(s, d).join(
          Tables.documents(s, d).filter(col("lang") === "en")
            .select(col("doc_id").as("vec_id")), Seq("vec_id")),
        "vec_id", "embedding", queryVec(s, d), 20)),
    // L33: hybrid keyword+vector retrieval fused by integer RRF
    "ann_hybrid_topk" -> ((s, d) =>
      Similarity.hybridTopK(Tables.documents(s, d), "doc_id", "text",
        Tables.embeddings(s, d), "vec_id", "embedding",
        queryTerms(s, d), queryVec(s, d), 10)),
    // L51: the BM25 upgrade of the keyword side (Okapi BM25, Lucene idf
    // via one LnFix micro-nat on (2df+1)/(2N+2), tf normalization cleared
    // to one exact decimal(38,0) floor division) — the RRF fusion stays
    // pure BIGINT, so the whole hybrid ranking is hash-exact
    "ann_hybrid_bm25" -> ((s, d) =>
      // pools from the in-session cache (bm25KwPoolCached /
      // vecPoolCached): the same frames stream_hybrid_rrf collects, built
      // once per (session, corpus, query); fusion body is rrfFusePools
      Similarity.hybridBm25TopKCached(s, d,
        queryTerms(s, d), queryVec(s, d), 10)),
    // L39: c-TF-IDF topic keywords per IVF cluster (the BERTopic
    // reduction) — rows-only (IVF training isn't SQL); planted-cluster
    // and determinism invariants spec-pinned
    "emb_topics" -> ((s, d) =>
      Similarity.topicKeywords(Tables.documents(s, d), "doc_id", "text",
        Tables.embeddings(s, d), "vec_id", "embedding",
        ivfModel(s, d, 16), topK = 5)),
    // L35: matryoshka truncation EVAL — overlap@10 of the 16-dim prefix
    // ranking vs the full 64-dim ranking, per query (the MRL check a
    // team runs before shipping truncated embeddings); both rankings
    // are exact batch top-k in one corpus scan each
    "emb_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qb = queryBatch(s, d)
      val full = Similarity.batchTopK(emb, "vec_id", "embedding", qb, 10)
      val trunc = Similarity.batchTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
        "vec_id", "embedding", qb.map { case (id, v) => (id, v.take(16)) }, 10)
      val inter = full.select(col("query_id"), col("vec_id"))
        .join(trunc.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("overlap10"))
      full.select(col("query_id")).distinct()
        .join(inter, Seq("query_id"), "left_outer")
        .select(col("query_id"), coalesce(col("overlap10"), lit(0L)).as("overlap10"))
    }),
    // IVF ANN: deterministic hash-sampled + 1-Lloyd-step centroids, probe
    // the 4 nearest of 16 lists (~25% scan fraction, tunable; list_id is
    // the storage partition key at scale). No oracle: the centroid
    // training loop is not SQL-expressible — recall vs brute force and
    // determinism are scalatest-asserted (SimilaritySpec; SURVEY §5).
    "ann_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryVec(s, d), 10, ivfModel(s, d, 16), nprobe = 4)),
    // batched serving: top-10 for EIGHT query vectors in ONE corpus scan
    // (bounded per-partition partial top-k, window merge of B×parts×k
    // partials) — per-query results identical to bruteForceTopK
    "ann_batch_topk" -> ((s, d) =>
      Similarity.batchTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        queryBatch(s, d), 10)),
    // kNN GRAPH, exact shard: each of 64 nodes' 5 nearest neighbors
    // (self excluded — a node is not its own neighbor) in ONE corpus
    // scan. The serving primitive for incremental graph maintenance at
    // 100 TB: new nodes arrive in batches, each batch is one scan.
    "graph_knn" -> ((s, d) =>
      Similarity.batchTopK(Tables.embeddings(s, d), "vec_id", "embedding",
        graphBatch(s, d), 5, excludeSelf = true)
        .select(col("query_id").as("src"), col("vec_id").as("dst"), col("cos"))),
    // kNN GRAPH, full corpus: every node's top-5 via top-2-probed IVF
    // lists — candidates bounded per list, never N². No oracle: IVF
    // training isn't SQL — recall vs the exact graph_knn edges is
    // scalatest-asserted (SimilaritySpec; SURVEY §5).
    "graph_knn_ivf" -> ((s, d) =>
      Similarity.knnGraphIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        ivfModel(s, d, 16), k = 5)),
    // neighbors → clusters (the scanpy step after pp.neighbors): kNN
    // (k=3) among the 64-node shard, MUTUAL-restricted (the scanpy/UMAP
    // symmetrization), connected components as cluster labels. Nodes
    // with no mutual edge (singletons) are absent by definition. Fixed k
    // + recursive reach make this fully SQL-expressible, so the whole
    // chain — scoring, ranking, symmetrization, components — is
    // oracle-checked end-to-end.
    "graph_clusters" -> ((s, d) => {
      Dedup.connectedComponents(Similarity.mutualEdges(shardKnnEdges(s, d)))
        .select(col("doc_id").cast("long").as("node"),
          col("component").cast("long").as("cluster"))
    }),
    // clustering QUALITY metric: weighted modularity of the label-prop
    // labeling on the shard graph — one exact-integer fraction, so the
    // whole edges→labels→Q chain is oracle-checked end-to-end
    "graph_modularity" -> ((s, d) => {
      // checkpoint the mutual edge set: labelPropagate + the three
      // modularity aggregates would otherwise each replay the kNN
      // scoring lineage (the corrCols multi-consumer pattern)
      val mut = Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
        .localCheckpoint()
      Similarity.modularity(mut, Similarity.labelPropagate(mut, rounds = 10))
    }),
    // per-node triangle counts on the shard's mutual-kNN graph (the
    // local-clustering-coefficient numerator): degree-ordered
    // orientation, each triangle enumerated once — oracle-checked
    // end-to-end against the canonical three-way mut self-join
    // L6t: per-edge link strength (common neighbors, integer Jaccard,
    // resource-allocation index) — the edge-trust/sparsification signal
    "graph_jaccard" -> ((s, d) => {
      Similarity.edgeSimilarity(
        Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
          .localCheckpoint())
        .select(col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          col("common_cnt"), col("jaccard_e6"), col("ra_e6"))
    }),
    // L6t corpus twin over the IVF mutual edge set (generated oracle)
    "graph_jaccard_full" -> ((s, d) => {
      Similarity.edgeSimilarity(ivfMutualEdges(s, d).localCheckpoint())
        .select(col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"),
          col("common_cnt"), col("jaccard_e6"), col("ra_e6"))
    }),
    "graph_triangles" -> ((s, d) => {
      // the edge set feeds degree, orientation AND the closing-edge
      // probe — checkpoint so the kNN scoring lineage runs once
      Similarity.triangleCounts(
        Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
          .localCheckpoint())
    }),
    // k-core prune of the shard graph (k=2, 8 fixed rounds — fixpoint
    // asserted in spec): surviving nodes + their in-core degree
    "graph_kcore" -> ((s, d) =>
      Similarity.kCore(
        Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
          .localCheckpoint(), k = 2, rounds = 8)),
    // full-corpus triangle twin (the shard/full pattern): same
    // degree-ordered enumeration over the IVF mutual-kNN edge set —
    // rows-only (IVF training isn't SQL); handshake/determinism
    // invariants spec-pinned, oracle-checked twin is graph_triangles
    "graph_triangles_full" -> ((s, d) =>
      Similarity.triangleCounts(ivfMutualEdges(s, d))),
    // full-corpus clustering scale path (the L6c/L7e shard/full pattern):
    // IVF-bucketed kNN edges over EVERY vector → mutual restriction →
    // label propagation. No oracle (IVF training isn't SQL) — determinism
    // and labeling invariants are scalatest-asserted; the oracle-checked
    // twin is graph_labelprop on the exact-kNN shard.
    "graph_labelprop_full" -> ((s, d) => {
      Similarity.labelPropagate(ivfMutualEdges(s, d), rounds = 10)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // full-corpus PAGERANK (the L6f scale path applied to
    // graph_pagerank): IVF mutual edges over every vector → the same
    // exact fixed-point update. Rows-only (IVF training isn't SQL); the
    // hash-exact twin is graph_pagerank on the exact-kNN shard, and the
    // scalatest contract pins determinism + mass conservation here.
    "graph_pagerank_full" -> ((s, d) => {
      Similarity.pageRank(ivfMutualEdges(s, d), rounds = 10)
        .select(col("node").cast("long").as("node"), col("rank_e12"))
    }),
    // full-corpus personalized-PageRank twin (the shard/full pattern):
    // restart at seeds {0..3} over the IVF mutual edge set — rows-only;
    // the oracle-checked twin is graph_ppr on the exact shard
    "graph_ppr_full" -> ((s, d) => {
      Similarity.personalizedPageRank(ivfMutualEdges(s, d),
          seeds = Seq(0L, 1L, 2L, 3L), rounds = 10)
        .select(col("node").cast("long").as("node"), col("rank_e12"))
    }),
    // full-corpus LOUVAIN (the same L6f scale path applied to
    // graph_louvain): IVF-bucketed kNN edges over EVERY vector → mutual
    // restriction → exact-integer ΔQ local moves from the singleton
    // seed. Rows-only (IVF training isn't SQL); the oracle-checked twin
    // is graph_louvain on the exact-kNN shard, and the scalatest
    // contract pins determinism, one-label coverage, and
    // modularity(louvain) >= modularity(label propagation) on the SAME
    // full-corpus edge set.
    "graph_louvain_full" -> ((s, d) => {
      val mut = ivfMutualEdges(s, d)
      val seed = mut.select(col("id1").as("node"))
        .unionByName(mut.select(col("id2").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      Similarity.louvainRefine(mut, seed, rounds = 4)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // multi-level Louvain at corpus scale (the L50 shard/full pattern):
    // phase-2 contraction + repeat over the IVF mutual edge set; level 1
    // runs on the community-sized super-graph, so the full-corpus extra
    // cost over phase-1 is one (label,label) aggregate + tiny supersteps
    "graph_louvain_ml_full" -> ((s, d) =>
      Similarity.louvainMultiLevel(ivfMutualEdges(s, d), levels = 2, rounds = 4)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))),
    // Leiden at corpus scale (L59 over the IVF mutual edge set): the
    // refinement pass restricts to intra-community edges — corpus·k rows
    // at worst, shrinking with community quality — and the aggregate
    // level runs on the refined-community-sized contraction, so the
    // extra cost over phase-1 stays one restriction + tiny supersteps
    "graph_leiden_full" -> ((s, d) =>
      Similarity.leiden(ivfMutualEdges(s, d), rounds = 4, refineRounds = 2)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))),
    // full-corpus SPECTRAL twin: v2/v3 of the random-walk matrix over
    // the IVF mutual-kNN graph of every vector — the diffmap coordinate
    // at corpus scale. Per-iteration cost is one edge matvec + node-
    // sized exact aggregates (Pregel shape); rows-only like the other
    // _full paths, with clique-separation asserted on planted clusters
    // in the scalatest.
    "graph_spectral_full" -> ((s, d) => {
      Similarity.spectralEmbed(ivfMutualEdges(s, d), iters = 12)
        .select(col("node").cast("long").as("node"), col("e1_q"), col("e2_q"))
    }),
    // Leiden-quality clustering (the r10 verdict gap): same mutual-kNN
    // edge set as graph_clusters, but labels from 10 synchronous rounds
    // of WEIGHTED label propagation — a bridge edge between two dense
    // communities no longer merges them the way connected components do.
    // Integer weights (4dp cosine × 10⁴) keep every neighbor-weight sum
    // exact, so the fixed-round result is deterministic and the whole
    // chain is oracle-checked against a DuckDB recursive CTE.
    "graph_labelprop" -> ((s, d) => {
      Similarity.labelPropagate(
          Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"), rounds = 10)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // PageRank in exact fixed-point integers (1e-12 mass units): the node
    // centrality primitive over the same mutual-kNN edge set, 10 rounds,
    // hash-exact vs the unrolled all-integer DuckDB twin (graphPagerankSql)
    "graph_pagerank" -> ((s, d) => {
      Similarity.pageRank(
          Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"), rounds = 10)
        .select(col("node").cast("long").as("node"), col("rank_e12"))
    }),
    // L6r: eigenvector centrality — fixed-point power iteration with
    // per-round max-normalization, all BIGINT floor arithmetic; the
    // unrolled oracle walks the identical integers
    "graph_eigen" -> ((s, d) => {
      Similarity.eigenCentrality(
          Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"), rounds = 10)
        .select(col("node").cast("long").as("node"), col("ev_e12"))
    }),
    // L6r corpus twin: the same exact-integer iteration over the IVF
    // mutual edge set (generated literal-model oracle)
    "graph_eigen_full" -> ((s, d) => {
      Similarity.eigenCentrality(ivfMutualEdges(s, d), rounds = 10)
        .select(col("node").cast("long").as("node"), col("ev_e12"))
    }),
    // personalized PageRank: the 15% teleport restarts at seeds {0..3}
    // (random walk with restart — the graph recommender's ranking);
    // same fixed-point integer contract, seed CASE mirrored in the
    // generated oracle rounds
    "graph_ppr" -> ((s, d) => {
      Similarity.personalizedPageRank(
          Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"),
          seeds = Seq(0L, 1L, 2L, 3L), rounds = 10)
        .select(col("node").cast("long").as("node"), col("rank_e12"))
    }),
    // Louvain phase-1 local moves from the classic singleton seed: exact
    // integer ΔQ-argmax per node per round (4 semi-synchronous rounds on
    // the parity schedule), the modularity-optimizing upgrade over pure
    // label propagation. The oracle is the same math unrolled
    // round-by-round in SQL over the shared edge prefix — hugeint there,
    // decimal(38,0) here, bit-equal.
    "graph_louvain" -> ((s, d) => {
      val mutE = Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
      val seed = mutE.select(col("id1").as("node"))
        .unionByName(mutE.select(col("id2").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      Similarity.louvainRefine(mutE, seed, rounds = 4)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // MULTI-LEVEL Louvain (L50): phase-1 local moves, phase-2 community
    // contraction (one (label,label) aggregate; intra weight becomes
    // self-loops), phase-1 again on the community-sized super-graph.
    // Oracle = the same level template unrolled twice + the contraction
    // CTE + the mapping compose — hugeint vs decimal(38,0), bit-equal.
    "graph_louvain_ml" -> ((s, d) => {
      val mutE = Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
      Similarity.louvainMultiLevel(mutE, levels = 2, rounds = 4)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // CONVERGENCE-TERMINATED multi-level Louvain (L50c, the r15 verdict
    // item): levels run until ΔQ ≤ 0 on the exact integer modularity
    // numerator — true Blondel termination instead of a fixed level
    // count. The realized count is a bit-deterministic function of the
    // edge set; the query records it as [[louvainConvLevels]] and the
    // generated oracle unrolls exactly that many levels (the
    // centroid-literal contract).
    "graph_louvain_conv" -> ((s, d) => {
      val (mapping, lv) = louvainConverged(s, d)
      louvainConvLevels(s, d)(lv)
      mapping.select(col("node").cast("long").as("node"),
        col("label").cast("long").as("cluster"))
    }),
    // Leiden (L59): phase-1 moves + the well-connectedness REFINEMENT
    // (re-partition each community from singletons over intra edges
    // only) + one aggregate level on the refined partition seeded with
    // the phase-1 labels — the algorithm scanpy defaults to, as three
    // passes of the same exact-integer Pregel machinery
    "graph_leiden" -> ((s, d) => {
      val mutE = Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
      Similarity.leiden(mutE, rounds = 4, refineRounds = 2)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("cluster"))
    }),
    // spectral embedding of the mutual-kNN graph (the diffmap/Laplacian-
    // eigenmap coordinate): v2/v3 of the random-walk matrix by exact
    // fixed-point power iteration — every reduction an integer sum, so
    // the unrolled DuckDB oracle matches hash-exactly (see spectralEmbed)
    "graph_spectral" -> ((s, d) => {
      Similarity.spectralEmbed(
          Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"), iters = 12)
        .select(col("node").cast("long").as("node"), col("e1_q"), col("e2_q"))
    }),
    // SQL-surface RECURSIVE CTE (Spark 4's UnionLoop): bounded-depth BFS
    // reachability with hop counts over the mutual-kNN edges, the same
    // statement text both engines run — proof the spark.sql surface
    // covers WITH RECURSIVE, not just the DataFrame API
    "graph_reach_sql" -> ((s, d) => {
      val mutE = Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w")
      mutE.select(col("id1").as("src"), col("id2").as("dst"))
        .unionByName(mutE.select(col("id2").as("src"), col("id1").as("dst")))
        .createOrReplaceTempView("graft_reach_edges")
      s.sql(
        """WITH RECURSIVE r(node, d) AS (
          |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
          |  UNION ALL
          |  SELECT e.dst AS node, r.d + 1 AS d
          |  FROM r JOIN graft_reach_edges e ON e.src = r.node WHERE r.d < 3
          |)
          |SELECT node, CAST(min(d) AS BIGINT) AS hops FROM r GROUP BY node
          |""".stripMargin)
    }),
    // kNN label transfer: queries 0..7 classified by majority label of
    // their 5 nearest labeled training vectors (vec_id ≥ 8) — one
    // training-corpus scan for the whole batch, vote fully SQL-checked
    "ann_classify" -> ((s, d) =>
      Similarity.knnClassify(Tables.embeddings(s, d).filter(col("vec_id") >= 8),
        "vec_id", "embedding", "label", queryBatch(s, d), 5)),
    // L42: hard-negative mining for contrastive training — each anchor's
    // 5 most-similar DIFFERENT-label vectors in one corpus scan
    "emb_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", anchorBatch(s, d), 5)),
    // L45: the index-quality measurement — recall@10 of the LSH-probed
    // ranking vs exact, per query, both sides batch-shaped (one scan each)
    "ann_recall_eval" -> ((s, d) =>
      Similarity.lshRecallEval(Tables.embeddings(s, d), "vec_id", "embedding",
        queryBatch(s, d), 10, annPlanes)),
    // L57: rank-biased overlap of the LSH vs exact rankings — the
    // top-weighted index-trust metric beside overlap@k; one exact BIGINT
    // sum of shared literal per-match weights
    "ann_rbo_eval" -> ((s, d) =>
      Similarity.lshRboEval(Tables.embeddings(s, d), "vec_id", "embedding",
        queryBatch(s, d), 10, annPlanes)),
    // L43: cluster-balanced downsampling (the diversity-preserving
    // subsample): per-IVF-cluster uniform hash quota — the two-stage
    // salted cap over the assignment the centroid literals define
    "sample_cluster_balanced" -> ((s, d) =>
      Sampling.quotaSample(
        Similarity.withIvfList(Tables.embeddings(s, d), "embedding",
            ivfModel(s, d, 16))
          .select(col("vec_id"), col("list_id").cast("long").as("list_id")),
        "list_id", "vec_id", n = 20)),
    // PQ ANN: 8×16 codebooks over normalized vectors, asymmetric-distance
    // top-10 over the m-byte codes only (32× compression — THE in-memory
    // serving path at 100 TB). No oracle: k-means training isn't SQL —
    // recall vs brute force, determinism, and code bounds are
    // scalatest-asserted (SimilaritySpec; SURVEY §5).
    "ann_pq_topk" -> ((s, d) => {
      val model = pqModel(s, d)
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      Similarity.pqTopK(Similarity.pqEncode(normEmb(s, d), "vec_id", "nvec", model),
        model, q.map(_ / qn), 10)
    }),
    // the FAISS IVFx,PQy composite: coarse lists prune the scan (nprobe/nlist
    // of the corpus), residual PQ codes carry the in-list geometry — the
    // architecture that actually serves 100 TB ANN. rows-only like its
    // ann_ivf/ann_pq parents (k-means training is not SQL); recall and
    // residual-error invariants live in SimilaritySpec.
    "ann_ivfpq_topk" -> ((s, d) => {
      val (cents, books) = ivfPqModel(s, d)
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      Similarity.ivfPqTopK(
        Similarity.ivfPqEncode(normEmb(s, d), "vec_id", "nvec", cents, books),
        cents, books, q.map(_ / qn), 10, nprobe = 4)
    }),
    // IVF-OPQ (FAISS OPQx,IVFy,PQz): the same IVF coarse stage and the
    // same m bytes/vector, with the residual space PCA-rotated and
    // eigenvalue-allocated across subspaces before encoding — recall
    // dominance over plain IVF-PQ at equal bytes is scalatest-pinned.
    // Rows-only like the rest of the PQ family (k-means + eigensolve
    // aren't SQL).
    "ann_opq_topk" -> ((s, d) => {
      val (cents, _) = ivfPqModel(s, d)
      val (rot, books) = opqModel(s, d)
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      Similarity.ivfOpqTopK(
        Similarity.ivfOpqEncode(normEmb(s, d), "vec_id", "nvec", cents, rot, books),
        cents, rot, books, q.map(_ / qn), 10, nprobe = 4)
    }),
    // ...and the same ADC over the list_id-PARTITIONED codes store: the
    // probe filter prunes partition directories at planning, so the scan
    // never opens an unprobed list — the serving I/O contract at 100 TB.
    // Equality with the in-memory form and the pruning itself are pinned
    // in SimilaritySpec/PlanSpec; rows-only like its parent.
    "ann_ivfpq_pruned" -> ((s, d) => {
      val (cents, books) = ivfPqModel(s, d)
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      Similarity.ivfPqTopK(ivfPqCodesTable(s, d),
        cents, books, q.map(_ / qn), 10, nprobe = 4)
    }),
    // ...and the full two-stage serving stack: ADC top-100 candidates from
    // the partitioned codes, exact-cosine re-rank of just those vectors —
    // recall provably >= ADC-only (pinned in SimilaritySpec). rows-only.
    "ann_ivfpq_refined" -> ((s, d) => {
      val (cents, books) = ivfPqModel(s, d)
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      Similarity.ivfPqTopKRefined(ivfPqCodesTable(s, d), normEmb(s, d),
        "vec_id", "nvec", cents, books, q.map(_ / qn), 10, nprobe = 4)
    }),

    // ---- LLM-pipeline: text analysis ----
    // BPE tokenizer induction: corpus scanned ONCE for word counts, then 8
    // merge rounds on the vocabulary-sized table; oracle unrolls the same
    // rounds (exact integer counts, lexicographic ties, greedy-left merge).
    // The model is TRAINED ONCE per (session, corpus) — the trio below
    // shares TextOps.bpeModelCached (the r17 refit finding).
    "text_bpe" -> ((s, d) => {
      import s.implicits._
      TextOps.bpeModelCached(s, d)._1.toDF("merge_rank", "mleft", "mright", "pair_n")
    }),
    // ...and the trained tokenizer APPLIED: per-doc token counts under the
    // final segmentation (the pretraining-budget question)
    "text_bpe_tokens" -> ((s, d) => TextOps.bpeTokensFromVocab(
      Tables.documents(s, d), "doc_id", "text", TextOps.bpeModelCached(s, d)._2)),
    // L66: per-source chars-per-BPE-token compression ratio (tokenizer
    // fertility) — exact masses, one 1e-6 integral division
    "text_compression" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextOps.compressionReportFromTokens(docs, "doc_id", "text", "source",
        TextOps.bpeTokensFromVocab(docs, "doc_id", "text", TextOps.bpeModelCached(s, d)._2))
    }),
    "text_stats" -> ((s, d) => TextOps.stats(Tables.documents(s, d), "doc_id", "text")),
    "text_tokens" -> ((s, d) => TextOps.tokenCounts(Tables.documents(s, d), "doc_id", "text")),
    "text_quality" -> ((s, d) => TextOps.quality(Tables.documents(s, d), "doc_id", "text")),
    "text_langid" -> ((s, d) => TextOps.langId(Tables.documents(s, d), "doc_id", "text")),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d), "doc_id", "text")),
    "text_redact" -> ((s, d) => TextOps.redact(Tables.documents(s, d), "doc_id", "text")),
    // benchmark decontamination: docs 0-49 stand in for the eval suite
    "text_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(docs, docs.filter(col("doc_id") < 50), "doc_id", "text")
    }),
    // bloom-prefiltered twin of text_contamination: row-equivalent by
    // construction (exact verify after the bloom), so it shares the oracle
    "text_contamination_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationBloom(docs, docs.filter(col("doc_id") < 50), "doc_id", "text")
    }),
    "text_repetition" -> ((s, d) => TextOps.repetition(Tables.documents(s, d), "doc_id", "text")),
    "text_vocab" -> ((s, d) => TextOps.vocab(Tables.documents(s, d), "doc_id", "text", minCount = 5)),
    // L61: per-source OOV rate under the min-count vocabulary (tokenizer
    // coverage gate) — exact BIGINT masses, one floor-division rate
    "text_oov" -> ((s, d) =>
      TextOps.oovReport(Tables.documents(s, d), "doc_id", "text", "source")),
    // CMS-prefiltered exact heavy hitters: the sketch probe (X12) prunes
    // the token shuffle map-side; output provably equals the plain
    // HAVING oracle because CMS never undercounts
    "text_heavy_hitters" -> ((s, d) =>
      TextOps.heavyHitters(Tables.documents(s, d), "text", minCount = 50)),
    // deterministic global shuffle order (two-level distributed rank —
    // no single-partition window); oracle = the plain global row_number
    "sample_shuffle" -> ((s, d) =>
      Sampling.shuffleOrder(Tables.documents(s, d), "doc_id")),
    // unigram-LM (SentencePiece-family) tokenizer: model + per-doc counts.
    // Rows-only (hard EM isn't SQL); invariants in TextOpsSpec
    "text_unigram" -> ((s, d) =>
      TextOps.unigramTrain(Tables.documents(s, d), "doc_id", "text")),
    "text_unigram_tokens" -> ((s, d) =>
      TextOps.unigramTokens(Tables.documents(s, d), "doc_id", "text")),
    "text_chunk" -> ((s, d) =>
      TextOps.chunk(Tables.documents(s, d), "doc_id", "text", chunkSize = 32, overlap = 8)),
    "report_sources" -> ((s, d) =>
      TextOps.sourceReport(Tables.documents(s, d), "doc_id", "text", "source")),
    // the flagship curation pipeline: quality gate ∧ repetition keep ∧
    // known language ∧ mix rebalance → exact-dedup keepers. All four
    // per-row signals are COLUMN expressions composed into a single scan
    // (one Project+Filter, whole-stage codegen'd — not a join per signal),
    // so the only shuffle is the exact-dedup keeper semi-join. Every
    // stage's formula has its own oracle twin; the pipeline twin composes
    // them as nested CTEs, so end-to-end keep decisions are hash-checked.
    "pipeline_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keepers = Dedup.exact(docs, "doc_id", "text").select(col("keep_id").as("doc_id"))
      docs.select(col("doc_id"), col("source").as("group_key"),
          TextOps.qualityCol(col("text")).as("quality"),
          // dup-word cap 0.6: this corpus draws from a small vocabulary, so
          // the 0.3 default (tuned for natural prose) would reject 85% of it
          TextOps.repetitionKeepCol(col("text"), maxDupWord = 0.6).as("_keep"),
          TextOps.langIdCol(col("text")).as("_lang"))
        .filter(col("quality") >= 0.3 && col("_keep") && col("_lang") =!= "und" &&
          Sampling.mixPredicate(col("doc_id"), col("group_key"), mixRates))
        .join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("group_key"), col("quality"))
    }),
    // ONE-PASS data-quality accounting via Dataset.observe: the per-rule
    // rejection counters (low quality, repetition, language, mix-rate,
    // dedup) ride the SAME plan as the curation itself — no second
    // metrics scan, which at 100 TB is the difference between "free
    // pipeline telemetry" and "double the cluster bill". The action is a
    // noop sink; the observed row becomes the query result.
    "pipeline_curate_obs" -> ((s, d) => {
      import org.apache.spark.sql.Observation
      val docs = Tables.documents(s, d)
      val keepers = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), lit(1).as("_kpf"))
      val staged = docs.select(col("doc_id"), col("source"),
          TextOps.qualityCol(col("text")).as("quality"),
          TextOps.repetitionKeepCol(col("text"), maxDupWord = 0.6).as("_rk"),
          TextOps.langIdCol(col("text")).as("_lang"),
          Sampling.mixPredicate(col("doc_id"), col("source"), mixRates).as("_mix"))
        .join(keepers, Seq("doc_id"), "left_outer")
        .withColumn("_kp", col("_kpf").isNotNull)
      val obs = Observation()
      val observed = staged.observe(obs,
        count(lit(1)).as("n_total"),
        sum(when(col("quality") < 0.3, 1L).otherwise(0L)).as("n_lowq"),
        sum(when(!col("_rk"), 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("_lang") === "und", 1L).otherwise(0L)).as("n_und"),
        sum(when(!col("_mix"), 1L).otherwise(0L)).as("n_mix_dropped"),
        sum(when(!col("_kp"), 1L).otherwise(0L)).as("n_dup_dropped"),
        sum(when(col("quality") >= 0.3 && col("_rk") && col("_lang") =!= "und" &&
          col("_mix") && col("_kp"), 1L).otherwise(0L)).as("n_kept"))
      observed.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_total").asInstanceOf[Long], m("n_lowq").asInstanceOf[Long],
        m("n_repetitive").asInstanceOf[Long], m("n_und").asInstanceOf[Long],
        m("n_mix_dropped").asInstanceOf[Long], m("n_dup_dropped").asInstanceOf[Long],
        m("n_kept").asInstanceOf[Long]))
        .toDF("n_total", "n_lowq", "n_repetitive", "n_und",
          "n_mix_dropped", "n_dup_dropped", "n_kept")
    }),
    // PSI drift monitor: curated half (src00-09) as reference vs crawl
    // half (src10-19) as current, over quality-score bins
    "report_drift" -> ((s, d) =>
      TextOps.driftReport(Tables.documents(s, d), "text", col("source") >= "src10")),
    // L49: unigram-LM KL divergence curated-vs-crawl (the exact-integer
    // information-theoretic drift monitor next to report_drift's PSI)
    "report_kl" -> ((s, d) =>
      TextOps.klDivergence(Tables.documents(s, d), "text", col("source") < "src10")),
    // L68: per-language Pearson correlation between the two main quality
    // signals (heuristic quality e4 vs unigram NLL micro) — do the
    // cheap and expensive filters agree? ONE ExactMomentsAgg pass (the
    // q29 contract: exact 128-bit sums, one rounded double formula)
    "report_signal_corr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val q = docs.select(col("doc_id"), col("lang"),
        round(TextOps.qualityCol(col("text")) * 10000, 0).cast("long").as("x"))
      val nll = TextOps.unigramNll(docs, "doc_id", "text")
        .select(col("doc_id"), col("nll_micro").as("y"))
      val m = q.join(nll, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(graft.functions.ExactMomentsAgg.moments(col("x"), col("y")).as("m"))
        .select(col("lang"), col("m.n").as("n"),
          col("m.sx").as("sx"), col("m.sy").as("sy"), col("m.sxy").as("sxy"),
          col("m.sxx").as("sxx"), col("m.syy").as("syy"))
      val cov = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val vx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val vy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      m.select(col("lang"), col("n").cast("long").as("n_docs"),
        (round(cov / sqrt(vx * vy), 6) + 0.0).as("corr_quality_nll"))
    }),
    "text_tfidf" -> ((s, d) => TextOps.tfidf(Tables.documents(s, d), "doc_id", "text")),
    // CCNet-style LM quality signal: per-doc mean NLL under the corpus's
    // own add-one unigram model (integer-snapped log-probs → exact sums).
    // The LM fits ONCE per (session, corpus) — text_ppl / ppl_filter /
    // ppl_interp and the S21 streaming cuts all read the cached frame.
    "text_ppl" -> ((s, d) => TextOps.unigramNllCached(s, d)),
    // L44: CCNet's central curation step — per-language head/middle/tail
    // perplexity terciles (two-level rank; exact integer boundaries)
    "pipeline_ppl_filter" -> ((s, d) => TextOps.pplBucketFilterFromNll(
      TextOps.unigramNllCached(s, d), Tables.documents(s, d), "doc_id", "text")),
    // the next-order LM signal: add-one bigram NLL, same integer-snapped
    // exactness contract as the unigram form
    "text_ppl_bigram" -> ((s, d) => TextOps.bigramNllCached(s, d)),
    // Jelinek–Mercer interpolation of the two LM signals (λ=0.7 bigram):
    // integer blend (7·nll2 + 3·nll1) div 10, single-token docs fall
    // back to the unigram score — composes the two class-1 signals into
    // the smoothed LM quality score CCNet-style filters actually use
    "text_ppl_interp" -> ((s, d) => {
      val u = TextOps.unigramNllCached(s, d)
        .select(col("doc_id"), col("nll_micro"))
      val b = TextOps.bigramNllCached(s, d)
        .select(col("doc_id"), col("nll2_micro"))
      u.join(b, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("nll2_micro").isNull, col("nll_micro"))
            .otherwise(expr("(7 * nll2_micro + 3 * nll_micro) div 10"))
            .as("interp_micro"))
    }),
    // L31: one-pass Naive Bayes classifier (the fastText-filter family's
    // closed-form member) — supervised langid over the corpus's own
    // labels, every log-prob an exact LnFix micro-nat integer. The score
    // frame fits ONCE per (session, corpus): all six eval-family queries
    // read TextOps.nbScoredCached (the r17 refit finding).
    "text_classify" -> ((s, d) =>
      TextOps.naiveBayesFromScored(TextOps.nbScoredCached(s, d))),
    // L48: classifier calibration report — per-margin-bin accuracy
    "text_calibration" -> ((s, d) =>
      TextOps.classifierCalibrationFromScored(TextOps.nbScoredCached(s, d),
        Tables.documents(s, d).select(col("doc_id"), col("lang").as("_actual")))),
    // L37: count-of-counts Zipf profile (tokenizer-design statistic)
    "text_zipf" -> ((s, d) =>
      TextOps.zipfSpectrum(Tables.documents(s, d), "doc_id", "text")),
    // L40: type-token ratio (lexical diversity quality signal)
    "text_ttr" -> ((s, d) =>
      TextOps.typeTokenRatio(Tables.documents(s, d), "doc_id", "text")),
    // L46: PMI collocations — exact LnFix micro-nat scores, top-20
    "text_pmi" -> ((s, d) =>
      TextOps.pmiCollocations(Tables.documents(s, d), "doc_id", "text")),
    // L52: TextRank keywords — PageRank centrality over the adjacent-
    // token co-occurrence graph (mdHash60 node ids, fixed-point integer
    // ranks), the graph-based keyword extractor; full unrolled oracle
    "text_keywords" -> ((s, d) =>
      TextOps.textrankKeywords(Tables.documents(s, d), "doc_id", "text")),
    // L47: blocked fuzzy entity-resolution join (edit distance <= 1
    // inside deterministic prefix blocks) over the customer dimension
    "dedup_fuzzy" -> ((s, d) =>
      Dedup.fuzzyJoin(Tables.customer(s, d), "c_custkey", "c_name")),
    // the eval face of L31: confusion matrix of predicted vs actual lang
    "text_classify_eval" -> ((s, d) =>
      TextOps.naiveBayesFromScored(TextOps.nbScoredCached(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"),
          col("lang").as("actual")), Seq("doc_id"))
        .groupBy(col("actual"), col("pred"))
        .agg(count(lit(1)).as("n"))),
    // L53: per-label precision/recall/F1 from the same confusion chain —
    // the report a classifier-gated pipeline actually reads. All three
    // ratios are same-operand integer divisions (class 2), so 6dp is
    // bit-safe; a never-predicted label has NULL precision (x/0 = NULL
    // in both engines, the rowNormalize precedent)
    // L62: exact ROC-AUC (Mann–Whitney midranks) for the NB scorer on
    // the 'en' class — the threshold-free face of the eval family
    "text_classify_auc" -> ((s, d) =>
      TextOps.classifierAucFromScored(TextOps.nbScoredCached(s, d),
        Tables.documents(s, d).select(col("doc_id"), col("lang").as("_actual")),
        posLabel = "en")),
    "text_classify_f1" -> ((s, d) => {
      val conf = TextOps.naiveBayesFromScored(TextOps.nbScoredCached(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"),
          col("lang").as("actual")), Seq("doc_id"))
        .groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // labels^2 rows feeding three tiny aggregates
      val a = conf.groupBy(col("actual").as("label"))
        .agg(sum(when(col("pred") === col("actual"), col("n")).otherwise(0L)).as("tp"),
          sum(when(col("pred") =!= col("actual"), col("n")).otherwise(0L)).as("fn"))
      val p = conf.filter(col("pred") =!= col("actual"))
        .groupBy(col("pred").as("label")).agg(sum(col("n")).as("fp"))
      a.join(p, Seq("label"), "left_outer")
        .select(col("label"), col("tp"), coalesce(col("fp"), lit(0L)).as("fp"),
          col("fn"))
        .select(col("label"), col("tp"), col("fp"), col("fn"),
          (round(try_divide(col("tp"), col("tp") + col("fp")), 6) + 0.0).as("prec"),
          (round(try_divide(col("tp"), col("tp") + col("fn")), 6) + 0.0).as("rec"),
          (round(try_divide(lit(2L) * col("tp"),
            lit(2L) * col("tp") + col("fp") + col("fn")), 6) + 0.0).as("f1"))
    }),
    // L54: Cohen's kappa of the classifier vs the labels — chance-
    // corrected agreement, ONE exact-integer fraction (4m-style):
    // kappa = (N·diag − Σ row_l·col_l) / (N² − Σ row_l·col_l) in
    // decimal(38,0) with a single 6dp same-operand double division
    "report_kappa" -> ((s, d) => {
      val dec = "decimal(38,0)"
      val conf = TextOps.naiveBayesFromScored(TextOps.nbScoredCached(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"),
          col("lang").as("actual")), Seq("doc_id"))
        .groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val tot = conf.agg(sum(col("n")).as("n_total"),
        sum(when(col("pred") === col("actual"), col("n")).otherwise(0L)).as("diag_n"))
      val pe = conf.groupBy(col("actual").as("l")).agg(sum(col("n")).as("rn"))
        .join(conf.groupBy(col("pred").as("l")).agg(sum(col("n")).as("cn")), Seq("l"))
        .agg(sum(col("rn").cast(dec) * col("cn").cast(dec)).as("pe"))
      tot.crossJoin(pe).selectExpr("CAST(n_total AS BIGINT) AS n_total",
        "CAST(diag_n AS BIGINT) AS diag_n",
        s"round(CAST(CAST(n_total AS $dec) * diag_n - pe AS DOUBLE) / " +
          s"nullif(CAST(CAST(n_total AS $dec) * n_total - pe AS DOUBLE), 0.0), 6)" +
          " + 0.0 AS kappa")
    }),
    "emb_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")),
    // PCA-whitening of the embedding space (decorrelate + unit variances —
    // retrieval preprocessing). The eigensolve itself is not SQL, but the
    // fitted model is a parameter-sized literal: the generated oracle
    // embeds THIS RUN's components/offsets and re-derives the projection.
    "emb_whiten" -> ((s, d) =>
      Similarity.whitenApply(Tables.embeddings(s, d), "vec_id", "embedding",
        whitenModelFor(s, d))),

    // ---- LLM-pipeline: sampling / splitting / packing ----
    "sample_split" -> ((s, d) => Sampling.hashSplit(Tables.documents(s, d), "doc_id")),
    // L55: EXACT stratified split — every source contributes exactly
    // floor(n*0.8) training docs (hashSplit's binomial noise is material
    // on small/skewed strata); md5-ranked inside the stratum
    "sample_split_stratified" -> ((s, d) =>
      Sampling.stratifiedSplit(Tables.documents(s, d), "source", "doc_id")),
    // L60: token-budget corpus selection — prefix-cut greedy in quality-
    // band order; global running sum via two-level slab prefix sums
    "sample_budget" -> ((s, d) =>
      Sampling.budgetSelect(Tables.documents(s, d), "doc_id", "text",
        budgetTokens = 5000L)),
    // L67: leakage-safe split — the split decision hashes the dedup
    // CLUSTER representative, so duplicate docs land on one side
    "sample_split_leakage_safe" -> ((s, d) =>
      Sampling.leakageSafeSplit(Tables.documents(s, d), "doc_id", "text")),
    // L56: JSONL export/ingest roundtrip — the interchange format LLM
    // corpora ship in: write the documents table as JSON lines (escaping
    // and all), read it back with the EXPLICIT schema (no inference
    // drift), hash-compare against the source rows. Distributed on both
    // sides: one file per partition out, splittable line reads in.
    "pipeline_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/jsonl_$sfName"
      docs.write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path)
    }),
    "sample_quota" -> ((s, d) =>
      Sampling.quotaSample(Tables.documents(s, d), "source", "doc_id", n = 10)),
    "sample_mix" -> ((s, d) =>
      Sampling.mixSample(Tables.documents(s, d), "source", "doc_id", mixRates)),
    // L36: epoch-weighted repeats — weights >1 materialize doc COPIES
    // (⌊w⌋ everywhere + hash-chosen ⌈w⌉), one row per copy
    "sample_repeat" -> ((s, d) =>
      Sampling.repeatSample(Tables.documents(s, d), "source", "doc_id",
        (0 until 20).map(i => s"src$i" -> (100 + 50 * (i % 4))).toMap)),
    // L38: Efraimidis–Spirakis weighted sampling without replacement —
    // LnFix integer keys, weight = capped char count
    "sample_weighted" -> ((s, d) =>
      Sampling.weightedSample(Tables.documents(s, d), "doc_id",
        least(col("n_chars"), lit(1000L)), n = 100)),
    // L41: DSIR importance resampling — score every document by how much
    // more likely its hashed ngrams are under the CURATED-half model than
    // under the whole-corpus model (exact micro-nat integers), keep the
    // top 100. The "make the crawl look like the curated domain" selector.
    "sample_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.dsirSelect(docs, docs.filter(col("source") < "src10"),
        "doc_id", "text")
    }),
    // L15b: the C4-style domain cap — each source keeps its 10 BEST
    // docs by quality (two-stage salted rank, score-ordered)
    "sample_quota_quality" -> ((s, d) =>
      Sampling.quotaByScore(Tables.documents(s, d), "source", "doc_id",
        graft.ops.TextOps.qualityCol(col("text")), n = 10)),
    // α=0.5 so both engines derive rates through sqrt (correctly-rounded
    // IEEE — bit-identical); see Sampling.temperatureRates. Grouped on a
    // token-length band (the `source` column is uniform in this corpus, so
    // banding is what gives tempering real skew to flatten).
    "sample_temperature" -> ((s, d) => {
      val ntok = graft.ops.TextOps.nTokens(col("text"))
      val banded = Tables.documents(s, d).withColumn("band",
        when(ntok < 40, "short").when(ntok < 80, "medium").otherwise("long"))
      Sampling.temperatureSample(banded, "band", "doc_id", alpha = 0.5)
    }),
    // curriculum phasing: quality-quartile phases via one exact-percentile
    // aggregate (no global ntile window — scan-local at any scale) + a
    // deterministic md5 within-phase shuffle key
    "sample_curriculum" -> ((s, d) =>
      Sampling.curriculum(Tables.documents(s, d), "doc_id", "text")),
    "sample_pack" -> ((s, d) =>
      Sampling.packSequences(Tables.documents(s, d), "doc_id", "text", budget = 512)),
    // ...and the packed TRAINING ARTIFACT itself: token ids (frequency-rank
    // vocab) laid out at their packed (sequence, offset) coordinates and
    // ROUND-TRIPPED through a v3+zstd uint16 Zarr store — the
    // (n_sequences × seq_len) token matrix a loader memory-maps. Rows
    // here are sequences, columns offsets; u2 holds any vocab < 65536.
    "sample_pack_store" -> ((s, d) => {
      val budget = 512
      val toks = Tables.documents(s, d).select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("p", "token")))
      val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
        .select(col("token"), row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("token"))).as("tid"))
      val packed = Sampling.packSequences(Tables.documents(s, d),
          "doc_id", "text", budget = budget)
        .select(col("doc_id"),
          (col("pack_id") * budget + col("pack_offset")).as("_start"))
      val cells = toks.join(packed, Seq("doc_id")).join(vocab, Seq("token"))
        .select(((col("_start") + col("p")) / budget).cast("long").as("i"),
          pmod(col("_start") + col("p"), lit(budget.toLong)).as("j"),
          col("tid").cast("double").as("v"))
      val dims = cells.agg(max(col("i")), max(col("v").cast("long"))).head()
      val (rows, maxTid) = (dims.getLong(0) + 1, dims.getLong(1))
      require(maxTid < 65536, s"vocab rank $maxTid overflows uint16")
      val sfName = d.replaceAll("[^A-Za-z0-9]", "_")
      val path = s"${GraftPaths.tmpRoot}/packstore_$sfName"
      Zarr.write(ZMatrix(cells), path, rows, budget.toLong,
        chunkRows = 64, chunkCols = budget, dtype = "<u2",
        format = 3, comp = "zstd")
      Zarr.read(s, path).cells.filter(col("v") =!= 0.0)
    }),
    // class-balanced sampling: every label downsampled to the SMALLEST
    // class size with the deterministic hash-rank rule (quotaSample) —
    // the class-rebalancing step before training on labeled data
    "sample_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val nMin = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .agg(min(col("n"))).head().getLong(0)
      Sampling.quotaSample(emb, "label", "vec_id", nMin.toInt)
    }),

    // ---- LLM-pipeline: multimodal ----
    // runs through the Arrow columnar-batch kernel interface (the
    // attachment point for an out-of-JVM codec); same stub math as
    // Multimodal.features, so the oracle is unchanged
    "multimodal_meta" -> ((s, d) => Multimodal.featuresArrow(Tables.documents(s, d), "doc_id", "text")),
    // same features, but every batch crosses a real subprocess pipe
    // (passthrough codec) — proves the out-of-JVM codec plumbing end-to-end
    "multimodal_subprocess" -> ((s, d) => Multimodal.featuresSubprocess(
      Tables.documents(s, d), "doc_id", "text", reuse = true)),
    // REAL decode, no stub anywhere: payloads are actual PNGs (sizes
    // derived from the text length), the child process is a separate JVM
    // doing genuine ImageIO bit parsing and returning feature batches —
    // the oracle predicts the decoder's output independently
    "multimodal_real_codec" -> ((s, d) =>
      Multimodal.realCodecFeatures(Tables.documents(s, d), "doc_id", "text",
          reuse = true)
        .select(col("doc_id"), col("width"), col("height"), col("channels"))),
    // PERCEPTUAL image dedup: bucket-patterned payloads (PNG scale 1-3 /
    // JPEG scale 8, one-pixel perturbations) decoded + aHashed by the
    // real out-of-JVM codec, then dup groups by exact hash match. The
    // pattern construction makes the 64-bit perceptual hash an exact
    // SQL-predictable function of doc_id — a fully oracle-checked hash
    // over genuinely decoded rasters.
    "multimodal_phash" -> ((s, d) => {
      val ph = Multimodal.phashReal(Tables.documents(s, d), "doc_id")
      val groups = ph.groupBy(col("phash"))
        .agg(count(lit(1)).as("group_n"), min(col("doc_id")).as("keep_id"))
      ph.join(groups, Seq("phash"))
        .select(col("doc_id"), col("phash"), col("width"),
          col("group_n"), col("keep_id"))
    }),
    // JPEG through the SAME subprocess contract: ImageIO's JFIF bit
    // parser this time; geometry (not pixels) is the lossless part a
    // SQL oracle can predict end-to-end
    "multimodal_jpeg_codec" -> ((s, d) =>
      Multimodal.jpegCodecFeatures(Tables.documents(s, d), "doc_id", "text",
          reuse = true)
        .select(col("doc_id"), col("width"), col("height"), col("channels"))),
    // REAL resize: the child decodes each PNG and nearest-neighbor
    // resamples it to 5×4; the red-channel sum over the RESIZED raster is
    // integer math over the known source pixels, so the oracle reproduces
    // the whole decode→resize kernel from the text length alone
    "multimodal_resize" -> ((s, d) =>
      Multimodal.resizeReal(Tables.documents(s, d), "doc_id", "text", 5, 4)),
    // REAL frame sampling: animated-GIF payloads, every 2nd frame
    // extracted by a real multi-frame ImageIO reader — one doc fans out
    // to ceil(n_frames/2) frame rows with exact palette colors
    "multimodal_frames" -> ((s, d) =>
      Multimodal.framesReal(Tables.documents(s, d), "doc_id", "text", stride = 2)),
    // REAL audio decode: WAV/PCM payloads parsed by javax.sound in the
    // child process — geometry + exact integer Σ|sample| per clip; the
    // oracle reproduces the whole decode from the construction rule
    "multimodal_audio" -> ((s, d) =>
      Multimodal.audioReal(Tables.documents(s, d), "doc_id", "text")),

    // ---- streaming ----
    "stream_window_agg" -> ((s, d) => Stream.windowAgg(s, d)),
    "stream_join" -> ((s, d) => Stream.streamJoin(s, d)),
    "stream_sessionize" -> ((s, d) => Stream.sessionizeStream(s, d)),
    // native merging session_window aggregation (S13) — exact-micros gap
    // math, append-mode emission mirrored by the oracle's ms-floored cutoff
    "stream_session_window" -> ((s, d) => Stream.sessionWindowAgg(s, d)),
    // stream-stream LEFT OUTER time-range join (S16): unmatched purchases
    // emit null-view rows on watermark expiry (-1 sentinel; raw nulls
    // would be ambiguous in the sorted hash compare)
    "stream_left_join" -> ((s, d) => Stream.streamLeftJoin(s, d)),
    // S23: FULL OUTER stream-stream time-range join — both unmatched
    // sides surface on watermark expiry (purchase at pts < wm, view at
    // vts < wm − 1h, the state watermark the range predicate implies)
    "stream_full_join" -> ((s, d) => Stream.streamFullJoin(s, d)),
    // S24: streaming BM25 relevance admission (the serving face of L51's
    // keyword side): batch-fitted idf/corpus literals, per-record exact
    // integer score, stream == batch bit-equal, shared oracle
    "stream_bm25" -> ((s, d) => Stream.bm25Stream(s, d, queryTerms(s, d))),
    // S25: streaming HYBRID retrieval admission — stream-static RRF of
    // the literal BM25 model with the batch keyword/vector pools; the
    // serving face of L51's FUSED ranking (completes the admission
    // matrix next to S24's keyword-only face)
    "stream_hybrid_rrf" -> ((s, d) =>
      Stream.hybridRrfStream(s, d, queryTerms(s, d), queryVec(s, d))),
    // exactly-once partitioned lake export (S14): foreachBatch + dynamic
    // partition overwrite over day-aligned bands; idempotency proven by
    // re-running a batch in StreamingSpec
    "stream_export" -> ((s, d) => Stream.exportStream(s, d)),
    "stream_dedup" -> ((s, d) => Stream.streamDedup(s, d)),
    // rows-only (centroid training isn't SQL-expressible); stream-vs-batch
    // assignment equality is asserted in StreamingSpec
    "stream_ivf_assign" -> ((s, d) => Stream.ivfAssignStream(s, d, ivfModel(s, d, 16))),
    // stream-STATIC broadcast join: ingest-edge decontamination against a
    // static benchmark fingerprint set (stateless — no watermark/state)
    "stream_contamination" -> ((s, d) => Stream.contaminationStream(s, d)),
    // S22: fuzzy-match admission vs a static master dimension (L47's
    // ingest face) — stream-static broadcast join inside prefix blocks
    "stream_fuzzy" -> ((s, d) => Stream.fuzzyAdmissionStream(s, d)),
    // S17: classifier ADMISSION at the ingest edge — the L31 model as a
    // collected map literal, scored statelessly per row; bit-equal to
    // batch text_classify, so the oracle is shared
    "stream_classify" -> ((s, d) => Stream.classifyStream(s, d)),
    // S20: DSIR admission scoring at the ingest edge — the batch-trained
    // bucket model as a map literal, per-row exact-integer fold;
    // bit-equal to batch sample_dsir scores, so the oracle is shared
    "stream_dsir" -> ((s, d) => Stream.dsirStream(s, d)),
    // S26: composed curation admission at the ingest edge — the L19
    // quality ∧ repetition ∧ langid ∧ mix gate, all stateless per-record
    // kernels; bit-equal to the batch pipeline's pre-dedup stage
    "stream_curate" -> ((s, d) => Stream.curateStream(s, d, mixRates)),
    // S27: containment admission at the ingest edge — per-micro-batch
    // containment join vs the corpus inverted index (foreachBatch;
    // per-pair counts never cross batches, so stream == batch exactly)
    "stream_containment" -> ((s, d) => Stream.containmentStream(s, d)),
    // S21: perplexity-tercile admission at the ingest edge — batch cut
    // VALUES applied statelessly per row (the CCNet edge contract)
    "stream_ppl_filter" -> ((s, d) => Stream.pplFilterStream(s, d)),
    // S18: per-window top-k — watermarked streaming counts + a bounded
    // batch rank post-pass over the aggregate-sized result
    "stream_topk" -> ((s, d) => Stream.topkStream(s, d)),
    // S19: keyed-snapshot UPSERT via foreachBatch (lakehouse SCD1
    // maintenance); final snapshot == the batch latest-per-user query
    "stream_upsert" -> ((s, d) => Stream.upsertStream(s, d)),
    // streaming → Zarr incremental array ingestion: time-banded
    // micro-batches append chunk-aligned slabs via the DSv2 append mode;
    // the final store reads back dense against a DuckDB grid twin
    "stream_zarr_ingest" -> ((s, d) => Stream.zarrIngestStream(s, d)),
    // S30: the tensor face of S7 — micro-batches publish chunk-aligned
    // time bands of an (hour × event-type × user-shard) cents CUBE into
    // one rank-3 ZarrNd store (appendBand; metadata commits last, band
    // order free); read back dense, oracle = the dense DuckDB cube
    "stream_tensor_ingest" -> ((s, d) => Stream.tensorIngestStream(s, d)),
    // streaming per-key admission control: first 5 events per user in
    // event-time order, one counter of state per key — the ingest-edge
    // quota of a continuous training-data pipeline
    "stream_quota" -> ((s, d) => Stream.quotaStream(s, d)),
    // near-dup ADMISSION at ingest: incoming docs (the %5 stream) minhash-
    // signed in the stream scan, banded against a static corpus LSH index
    // (stateless stream-static join), exact-Jaccard verify post-ingest.
    // rows-only (minhash is Spark-only); stream==batch pinned in spec.
    "stream_neardup" -> ((s, d) => Stream.nearDupStream(s, d)),
    // per-window drift: each event-time hour's value distribution scored
    // against the corpus-global reference (Laplace PSI, exact integers)
    "stream_drift" -> ((s, d) => Stream.driftStream(s, d)),
    // perceptual admission at ingest: incoming images decoded + aHashed by
    // the real codec child inside the stream, matched against the resident
    // hash index — fully oracle-checked (the hash is SQL-predictable)
    "stream_phash" -> ((s, d) => Stream.phashStream(s, d)),
  )

  // ---- generated DuckDB oracle SQL for hash/vector operators ----
  // These twins reproduce graft's hashing and float folds bit-identically:
  // the token hash is an md5 prefix (md5 exists in both engines), and every
  // dot product is an ORDERED left fold (list_reduce) matching DotProduct's
  // index-order loop, so even sign decisions at hyperplane boundaries agree.

  private def sqlDoubles(xs: Array[Double]): String =
    xs.map(java.lang.Double.toString).mkString("[", ", ", "]")

  /** Ordered left-fold dot product — bit-identical to DotProduct's loop. */
  private def dotFold(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> ($a)[i]::DOUBLE * ($b)[i]::DOUBLE), (x, y) -> x + y)"

  private def dotFoldLit(a: String, plane: Array[Double]): String =
    s"list_reduce(list_transform(range(1, ${plane.length + 1}), i -> ($a)[i]::DOUBLE * (${sqlDoubles(plane)})[i]), (x, y) -> x + y)"

  /** Hyperplane-sign bucket, matching Similarity.withBucket. */
  private def bucketSqlOf(vec: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, idx) =>
      s"(CASE WHEN ${dotFoldLit(vec, p)} > 0 THEN ${1 << idx} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Shared CTE chain computing (doc_id, simhash) exactly as Dedup.simhash,
    * over `source` (the documents table, or an exact-deduped CTE of it). */
  private def simhashFpCtes(source: String = "documents"): String = {
    val votes = (0 until Dedup.SimhashBits).map(b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")
    val fp = (0 until Dedup.SimhashBits).map(b =>
      s"(CASE WHEN v$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)").mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM $source),
       |h AS (SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM tok),
       |v AS (SELECT doc_id, $votes FROM h GROUP BY 1),
       |fp AS (SELECT doc_id, $fp AS simhash FROM v)""".stripMargin
  }

  /** Shared rate CASE + hash predicate for mix twins (source of truth:
    * [[mixRates]]). */
  private def mixPredicateSql(idExpr: String, srcExpr: String): String = {
    val rateCase = mixRates.toSeq.sortBy(_._1).foldLeft("1.0") {
      case (acc, (k, r)) => s"CASE WHEN $srcExpr = '$k' THEN $r ELSE $acc END"
    }
    s"""(('0x' || substring(md5(CAST($idExpr AS VARCHAR)), 1, 15))::BIGINT % 10000)::DOUBLE
       |  < ($rateCase) * 10000.0""".stripMargin
  }

  /** One source of truth for the repetition twin: emits doc_id, both dup
    * ratios, and the keep flag at the given thresholds. `text_repetition`
    * uses it at the (0.3, 0.2) defaults; pipeline_curate's CTE at its
    * corpus-tuned thresholds — the formula text exists exactly once. */
  private def repetitionSql(maxDupWord: Double, maxDupBigram: Double): String = {
    val dupW = "CASE WHEN n > 0 THEN round(1.0 - len(list_distinct(tok)) / n, 4) + 0 ELSE 0.0 END"
    val dupB = "CASE WHEN n > 1 THEN round(1.0 - len(list_distinct(big)) / (n - 1), 4) + 0 ELSE 0.0 END"
    s"""SELECT doc_id, $dupW AS dup_word_ratio, $dupB AS dup_bigram_ratio,
       | ($dupW) <= $maxDupWord AND ($dupB) <= $maxDupBigram AS keep
       |FROM (SELECT doc_id, tok, len(tok) AS n,
       |  list_transform(range(1, len(tok)), i -> tok[i] || chr(1) || tok[i+1]) AS big
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents))""".stripMargin
  }

  private val textPplSql: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        |            FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
        |g AS (SELECT sum(c) + count(*) AS den FROM cnt),
        |lmsrc AS (SELECT token, c, den FROM cnt CROSS JOIN g),
        |${graft.functions.LnFix.oracleCtes("lm", "lmsrc", Seq("token"), "c + 1", "den", "lnq")},
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
        |  CAST(sum(tf * lnq) // sum(tf) AS BIGINT) AS nll_micro
        |FROM tf JOIN lmf USING (token) GROUP BY doc_id""".stripMargin

  private val textPplBigramSql: String =
    s"""WITH tok AS (SELECT doc_id, u.p AS pos, w[u.p] AS token FROM (
        |    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
        |    unnest(range(1, len(w) + 1)) u(p)),
        |big AS (SELECT doc_id, token AS w1,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tok),
        |b AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
        |cnt AS (SELECT w1, w2, count(*) AS c FROM b GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(c) AS cw FROM cnt GROUP BY 1),
        |vs AS (SELECT count(DISTINCT token) AS v FROM tok),
        |lmsrc AS (SELECT w1, w2, c, cw, v FROM cnt JOIN ctx USING (w1) CROSS JOIN vs),
        |${graft.functions.LnFix.oracleCtes("lm", "lmsrc", Seq("w1", "w2"), "c + 1", "cw + v", "lnq")},
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  CAST(sum(tf * lnq) // sum(tf) AS BIGINT) AS nll2_micro
        |FROM tf JOIN lmf USING (w1, w2) GROUP BY doc_id""".stripMargin

  /** The shared NB scoring chain (through `fin` = per-(doc, label) ranked
    * exact costs): text_classify takes rk=1, the calibration report
    * additionally reads rk=2 for the margin. */
  private val nbScorePrefix: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        |            FROM documents),
        |lab AS (SELECT doc_id, lang AS label FROM documents),
        |ltok AS (SELECT t.doc_id, l.label, t.token FROM tok t JOIN lab l USING (doc_id)),
        |cnt AS (SELECT label, token, count(*) AS c FROM ltok GROUP BY 1, 2),
        |tot AS (SELECT label, sum(c) AS t FROM cnt GROUP BY 1),
        |vs AS (SELECT count(DISTINCT token) AS v FROM tok),
        |csrc AS (SELECT label, token, c, t, v FROM cnt JOIN tot USING (label) CROSS JOIN vs),
        |${graft.functions.LnFix.oracleCtes("nb", "csrc", Seq("label", "token"), "c + 1", "t + v", "cost")},
        |fsrc AS (SELECT label, t, v FROM tot CROSS JOIN vs),
        |${graft.functions.LnFix.oracleCtes("fb", "fsrc", Seq("label"), "1", "t + v", "fbc")},
        |psrc AS (SELECT label, count(*) AS dn,
        |         (SELECT count(*) FROM documents) AS dt FROM lab GROUP BY 1),
        |${graft.functions.LnFix.oracleCtes("pr", "psrc", Seq("label"), "dn", "dt", "prior")},
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |cand AS (SELECT tf.doc_id, p.label, tf.token, tf.tf
        |         FROM tf CROSS JOIN (SELECT label FROM prf) p),
        |sc AS (SELECT cand.doc_id, cand.label,
        |         sum(cand.tf * coalesce(n.cost, f.fbc)) AS s
        |       FROM cand LEFT JOIN nbf n
        |         ON n.label = cand.label AND n.token = cand.token
        |       JOIN fbf f ON f.label = cand.label GROUP BY 1, 2),
        |fin AS (SELECT sc.doc_id, sc.label, sc.s + p.prior AS score,
        |        row_number() OVER (PARTITION BY sc.doc_id
        |          ORDER BY sc.s + p.prior, sc.label) AS rk
        |        FROM sc JOIN prf p USING (label))""".stripMargin

  private val nbClassifySql: String =
    s"""$nbScorePrefix
       |SELECT doc_id, label AS pred, CAST(score AS BIGINT) AS cost_micro
       |FROM fin WHERE rk = 1""".stripMargin

  /** L62 twin: one DESC rank window over the positive-label scores; the
    * 2·midrank of a tie group is 2·rank() + tiecount − 1, hugeint
    * accumulation, one integral division — exactly classifierAuc's
    * integers (whose slab decomposition is output-invariant). */
  private val textAucSql: String =
    s"""$nbScorePrefix,
       |ps AS (SELECT f.doc_id, f.score,
       |    CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS p
       |  FROM fin f JOIN documents d USING (doc_id) WHERE f.label = 'en'),
       |rk2 AS (SELECT p, 2 * rank() OVER (ORDER BY score DESC)
       |    + count(*) OVER (PARTITION BY score) - 1 AS r2 FROM ps),
       |ag AS (SELECT CAST(sum(CASE WHEN p = 1 THEN r2 ELSE 0 END) AS HUGEINT) AS r2pos,
       |    CAST(sum(p) AS HUGEINT) AS np,
       |    CAST(count(*) - sum(p) AS HUGEINT) AS nn FROM rk2)
       |SELECT 'en' AS pos_label, CAST(np AS BIGINT) AS n_pos,
       |  CAST(nn AS BIGINT) AS n_neg,
       |  CAST(((r2pos - np * (np + 1)) * 1000000) // (2 * np * nn) AS BIGINT) AS auc_e6
       |FROM ag""".stripMargin

  /** [[graft.ops.TextOps.classifierCalibration]]'s twin: the shared NB
    * chain's rk=1/rk=2 rows give (pred, margin); exact-integer 0.1-nat
    * bins, per-bin counts, ONE class-2 6dp accuracy ratio. */
  private val nbCalibrationSql: String =
    s"""$nbScorePrefix,
       |b AS (SELECT f1.doc_id, f1.label AS pred,
       |    CAST(f2.score - f1.score AS BIGINT) AS margin
       |  FROM (SELECT * FROM fin WHERE rk = 1) f1
       |  JOIN (SELECT * FROM fin WHERE rk = 2) f2 USING (doc_id)),
       |cb AS (SELECT least(4, margin // 100000) AS bucket,
       |    CASE WHEN b.pred = d.lang THEN 1 ELSE 0 END AS ok
       |  FROM b JOIN documents d USING (doc_id))
       |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
       |  CAST(sum(ok) AS BIGINT) AS n_correct,
       |  round(CAST(sum(ok) AS DOUBLE) / count(*), 6) + 0 AS accuracy
       |FROM cb GROUP BY 1""".stripMargin

  private val qualitySql: String =
    """WITH s AS (SELECT doc_id,
      |  length(string_split_regex(trim(text), '\s+')) AS ntok,
      |  length(regexp_replace(text, '\s', '', 'g'))
      |    / length(string_split_regex(trim(text), '\s+')) AS avgwl,
      |  length(regexp_replace(text, '[^.,!?;:]', '', 'g')) / length(text) AS punct
      |  FROM documents)
      |SELECT doc_id,
      | round(least(1.0, ntok / 100.0) * (1.0 - least(1.0, punct * 5))
      |   * (CASE WHEN avgwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) AS quality
      |FROM s""".stripMargin

  private val langidSql: String = {
    val scores = graft.ops.TextOps.langMarkers.map { case (lang, ws) =>
      "(" + ws.map(w => s"len(regexp_extract_all(lt, '\\b$w\\b'))").mkString(" + ") + s") AS s_$lang"
    }.mkString(", ")
    s"""WITH lt AS (SELECT doc_id, lower(text) AS lt, text FROM documents),
       |sc AS (SELECT doc_id, $scores,
       |  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh FROM lt)
       |SELECT doc_id, CASE WHEN s_zh > 0 THEN 'zh'
       |  WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
       |  WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
       |  WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
       |  WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang FROM sc""".stripMargin
  }

  /** Shared by text_contamination and its bloom-prefiltered twin (which is
    * row-equivalent by construction: exact membership verify after bloom). */
  private val contaminationSql: String =
    """WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> t[i] || chr(1) || t[i+1] || chr(1) || t[i+2])) AS s FROM tok),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50)
      |SELECT doc_id, count(*) AS n_shingles,
      | count(*) FILTER (WHERE s IN (SELECT s FROM bench)) AS n_contaminated,
      | round(count(*) FILTER (WHERE s IN (SELECT s FROM bench)) / count(*), 4) AS ratio
      |FROM sh GROUP BY 1""".stripMargin

  private val annLshSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qd AS (SELECT q.qe, ${bucketSqlOf("q.qe", annPlanes)} AS qbucket,
       |  sqrt(${dotFold("q.qe", "q.qe")}) AS qn FROM q q),
       |sc AS (SELECT e.vec_id,
       |  ${dotFold("e.embedding", "qd.qe")} / (sqrt(${dotFold("e.embedding", "e.embedding")}) * qd.qn) AS cos,
       |  ${bucketSqlOf("e.embedding", annPlanes)} AS bucket, qd.qbucket AS qbucket
       |  FROM embeddings e CROSS JOIN qd)
       |SELECT vec_id, round(cos, 4) + 0 AS cos FROM sc
       |WHERE bit_count(xor(bucket::BIGINT, qbucket::BIGINT)) <= 2
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin

  private val embNearDupSql: String =
    s"""WITH b AS (SELECT e.vec_id AS doc_id, e.embedding AS vec,
       |  ${bucketSqlOf("e.embedding", dupPlanes)} AS bucket,
       |  sqrt(${dotFold("e.embedding", "e.embedding")}) AS nrm FROM embeddings e),
       |p AS (SELECT a.doc_id AS id1, c.doc_id AS id2,
       |  ${dotFold("a.vec", "c.vec")} / (a.nrm * c.nrm) AS cos
       |  FROM b a JOIN b c ON a.doc_id < c.doc_id
       |   AND bit_count(xor(a.bucket::BIGINT, c.bucket::BIGINT)) <= 1)
       |SELECT id1, id2, round(cos, 4) AS cos FROM p WHERE cos >= 0.3""".stripMargin

  /** Shared oracle prefix for the three shard-graph queries — the SQL
    * twin of [[shardKnnEdges]] (+ mutual restriction): 64-node shard,
    * k=3, integer 4dp-cos×10⁴ weights. One definition so a parameter
    * change can't silently diverge between the Scala and SQL sides. */
  private val graphEdgesSqlPrefix: String =
    """WITH RECURSIVE
      |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64),
      |scored AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |  round(SUM(CAST(b.embedding[r.i + 1] AS DOUBLE) * CAST(a.embedding[r.i + 1] AS DOUBLE))
      |    / (sqrt(SUM(CAST(b.embedding[r.i + 1] AS DOUBLE) * CAST(b.embedding[r.i + 1] AS DOUBLE)))
      |       * sqrt(SUM(CAST(a.embedding[r.i + 1] AS DOUBLE) * CAST(a.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
      | FROM q a CROSS JOIN q b CROSS JOIN range(64) r(i)
      | WHERE a.vec_id <> b.vec_id
      | GROUP BY a.vec_id, b.vec_id),
      |knn AS MATERIALIZED (SELECT src, dst, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
      |  FROM scored) WHERE rk <= 3),
      |mut AS MATERIALIZED (SELECT a.src AS id1, a.dst AS id2,
      |          CAST(round(a.cos * 10000) AS BIGINT) AS w
      |        FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
      |        WHERE a.src < a.dst),
      |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst, w FROM mut
      |          UNION ALL SELECT id2, id1, w FROM mut)""".stripMargin

  /** Edge prefix + the 10-round label-propagation CTE. Parameterized by
    * the edge-construction prefix so the exact-shard and IVF-full twins
    * share ONE unrolled-round definition (round count and argmax rule
    * cannot drift between the two oracles). */
  private def graphLpaPrefixFrom(prefix: String): String = prefix + ",\n" +
    """lp(node, label, it) AS (
      |  SELECT DISTINCT src, src, 0 FROM edges
      |  UNION ALL
      |  SELECT src AS node, label, it + 1 FROM (
      |    SELECT e.src, l.label, l.it,
      |      row_number() OVER (PARTITION BY e.src, l.it
      |        ORDER BY sum(e.w) DESC, l.label) AS rk
      |    FROM lp l JOIN edges e ON e.dst = l.node
      |    WHERE l.it < 10
      |    GROUP BY e.src, l.label, l.it) WHERE rk = 1)""".stripMargin

  /** [[graphEdgesSqlPrefix]] + the 10-round label-propagation CTE. */
  private val graphLpaSqlPrefix: String = graphLpaPrefixFrom(graphEdgesSqlPrefix)

  /** Edge-similarity body shared by graph_jaccard and its _full twin:
    * expects CTEs `mut(id1, id2, w)` and `edges(src, dst, w)`. Floor
    * divisions mirror [[graft.ops.Similarity.edgeSimilarity]] exactly. */
  private val graphJaccardBody: String =
    """jdeg AS (SELECT src AS node, count(*) AS k FROM edges GROUP BY 1),
      |jcn AS (SELECT m.id1, m.id2, e1.dst AS z
      |  FROM mut m JOIN edges e1 ON e1.src = m.id1
      |             JOIN edges e2 ON e2.src = m.id2 AND e2.dst = e1.dst),
      |jagg AS (SELECT c.id1, c.id2, count(*) AS cc,
      |    SUM(1000000 // d.k) AS ra
      |  FROM jcn c JOIN jdeg d ON d.node = c.z GROUP BY 1, 2)
      |SELECT m.id1, m.id2,
      |  CAST(COALESCE(a.cc, 0) AS BIGINT) AS common_cnt,
      |  CAST((COALESCE(a.cc, 0) * 1000000)
      |    // (du.k + dv.k - COALESCE(a.cc, 0)) AS BIGINT) AS jaccard_e6,
      |  CAST(COALESCE(a.ra, 0) AS BIGINT) AS ra_e6
      |FROM mut m JOIN jdeg du ON du.node = m.id1
      |           JOIN jdeg dv ON dv.node = m.id2
      |LEFT JOIN jagg a ON a.id1 = m.id1 AND a.id2 = m.id2""".stripMargin

  /** Triangle/degree body shared by graph_triangles and its _full twin:
    * expects CTEs `mut(id1, id2, w)` and `edges(src, dst, w)`. */
  private val graphTrianglesBody: String =
    """tri AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
      |  FROM mut e1 JOIN mut e2 ON e2.id1 = e1.id2
      |  JOIN mut e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
      |tn AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      |       UNION ALL SELECT c FROM tri),
      |tc AS (SELECT node, count(*) AS t FROM tn GROUP BY 1),
      |dg AS (SELECT src AS node, count(*) AS dg FROM edges GROUP BY 1)
      |SELECT dg.node, CAST(dg.dg AS BIGINT) AS deg,
      |  CAST(coalesce(tc.t, 0) AS BIGINT) AS tri
      |FROM dg LEFT JOIN tc USING (node)""".stripMargin

  /** SQL VALUES rows for a centroid model: `(l, c DOUBLE[], nrm)` — the
    * per-list norm is the EXACT driver value ([[Similarity]]'s safeNorms:
    * left-to-right Σx², sqrt, zero-norm → 1.0), embedded as a literal so
    * the oracle's cosine denominators are bit-identical to the Spark
    * plan's. Doubles print via java.lang.Double.toString (shortest
    * round-trip form — lossless). */
  private def centsValuesSql(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, l) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      val nrm = java.lang.Double.toString(if (n == 0.0) 1.0 else n)
      s"($l, ${sqlDoubles(c)}::DOUBLE[], $nrm)"
    }.mkString(",\n    ")

  /** The FULL-CORPUS IVF mutual-kNN edge construction as DuckDB SQL —
    * the oracle twin of [[ivfMutualEdges]] ([[Similarity.knnGraphIvf]]
    * k=5, maxList=1000 + [[Similarity.mutualEdgesWeighted]]), with the
    * trained centroids entering as literals exactly as they enter the
    * Spark plan. Emits the same terminal CTE names (`mut`, `edges`) as
    * [[graphEdgesSqlPrefix]], so every downstream round-unroll body is
    * shared verbatim between the shard and full twins. Every dot product
    * is an ordered left fold (list_reduce) matching DotProduct's loop;
    * list assignment ties break to the LARGER list id (struct-greatest
    * rule), replicated by ORDER BY s DESC, l DESC. */
  /** Shared base CTEs for every IVF-model oracle: centroid VALUES,
    * corpus as DOUBLE[] vectors, and per-(vector, list) cosine scores —
    * the SQL twin of [[Similarity]]'s `centroidScores`. */
  private def ivfBaseCtes(cents: Array[Array[Double]]): String =
    s"""cents(l, c, nrm) AS (VALUES
       |    ${centsValuesSql(cents)}),
       |emb AS MATERIALIZED (SELECT vec_id AS doc_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings),
       |sc AS (SELECT e.doc_id, c.l,
       |  list_reduce(list_transform(range(1, ${cents(0).length + 1}),
       |    i -> e.vec[i] * c.c[i]), (x, y) -> x + y) / c.nrm AS s
       |  FROM emb e CROSS JOIN cents c)""".stripMargin

  /** Top-2 probe lists per vector + the per-list deterministic cap —
    * [[Similarity.withIvfTop2]] and the maxList row_number guard shared
    * by knnGraphIvf / nearDupPairsIvf. */
  private def ivfCappedCtes(maxList: Int, dim: Int): String =
    s"""top2 AS (SELECT doc_id, l AS probe FROM (
       |  SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY s DESC, l DESC) AS rk FROM sc) WHERE rk <= 2),
       |capped AS MATERIALIZED (SELECT probe, doc_id, vec,
       |  sqrt(list_reduce(list_transform(vec, x -> x * x), (x, y) -> x + y)) AS nrm
       |  FROM (SELECT p.probe, p.doc_id, e.vec,
       |    row_number() OVER (PARTITION BY p.probe ORDER BY p.doc_id) AS rk
       |    FROM top2 p JOIN emb e USING (doc_id)) WHERE rk <= $maxList),
       |cand AS (SELECT a.doc_id AS src, b.doc_id AS dst,
       |  list_reduce(list_transform(range(1, ${dim + 1}),
       |    i -> a.vec[i] * b.vec[i]), (x, y) -> x + y) AS dp,
       |  a.nrm * b.nrm AS den
       |  FROM capped a JOIN capped b
       |    ON a.probe = b.probe AND a.doc_id < b.doc_id)""".stripMargin

  /** The directed top-k ranking over the capped in-list candidates —
    * [[Similarity.knnGraphIvf]]'s tail: duplicate-probe collapse (max),
    * per-src rank on the RAW cosine, 4dp round after the cut. */
  private def ivfKnnCte(k: Int): String =
    s"""cc AS (SELECT src, dst, MAX(dp / den) AS cos FROM (
       |    SELECT src, dst, dp, den FROM cand WHERE den > 0
       |    UNION ALL SELECT dst, src, dp, den FROM cand WHERE den > 0)
       |  GROUP BY src, dst),
       |knn AS MATERIALIZED (SELECT src, dst, round(cos, 4) + 0 AS cos FROM (
       |  SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |    ORDER BY cos DESC, dst) AS rk FROM cc) WHERE rk <= $k)""".stripMargin

  private def ivfEdgesSqlPrefix(cents: Array[Array[Double]]): String =
    s"""WITH RECURSIVE
       |${ivfBaseCtes(cents)},
       |${ivfCappedCtes(1000, cents(0).length)},
       |${ivfKnnCte(5)},
       |mut AS MATERIALIZED (SELECT a.src AS id1, a.dst AS id2,
       |    CAST(round(a.cos * 10000) AS BIGINT) AS w
       |  FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src
       |  WHERE a.src < a.dst),
       |edges AS MATERIALIZED (SELECT id1 AS src, id2 AS dst, w FROM mut
       |  UNION ALL SELECT id2, id1, w FROM mut)""".stripMargin

  /** The IVF-graph family: the six `graph_*_full` oracles and every
    * other query over the trained IVF model (nlist=16). The centroid
    * training loop (xxhash64 sample + driver Lloyd) is not
    * SQL-expressible, but the trained model is a parameter-sized literal
    * — so the oracle independently re-derives list assignment, capped
    * candidate generation, kNN ranking, mutual restriction AND the
    * unrolled rounds, trusting only the literals. */
  private def ivfGraphOracles(s: SparkSession, d: String): Map[String, () => String] = {
    lazy val cents = ivfModel(s, d, 16)
    lazy val p = ivfEdgesSqlPrefix(cents)
    Map(
      "graph_labelprop_full" -> (() => graphLpaPrefixFrom(p) + "\n" +
        "SELECT node, label AS cluster FROM lp WHERE it = 10"),
      "graph_louvain_full" -> (() => graphLouvainSqlFrom(p)),
      "graph_louvain_ml_full" -> (() => graphLouvainMlSqlFrom(p)),
      "graph_leiden_full" -> (() => graphLeidenSqlFrom(p)),
      "graph_pagerank_full" -> (() => graphPagerankSqlFrom(p)),
      "graph_eigen_full" -> (() => graphEigenSqlFrom(p)),
      "graph_ppr_full" -> (() => graphPprSqlFrom(p)),
      "graph_spectral_full" -> (() => graphSpectralSqlFrom(p)),
      "graph_triangles_full" -> (() => p + ",\n" + graphTrianglesBody),
      "graph_jaccard_full" -> (() => p + ",\n" + graphJaccardBody),
      "graph_knn_ivf" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)},
           |${ivfCappedCtes(1000, cents(0).length)},
           |${ivfKnnCte(5)}
           |SELECT src, dst, cos FROM knn""".stripMargin),
      // nearDupPairsIvf: RAW-cosine threshold per candidate, then the
      // duplicate-probe max collapses, 4dp round last (no rank cut)
      "emb_neardup_ivf" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)},
           |${ivfCappedCtes(1000, cents(0).length)}
           |SELECT src AS id1, dst AS id2, round(MAX(dp / den), 4) AS cos
           |FROM cand WHERE den > 0 AND dp / den >= 0.3
           |GROUP BY src, dst""".stripMargin),
      // semanticDedup: the near-dup pair set → min-label connected
      // components (the dedup_components reach CTE) → min-id keeper
      "dedup_semantic" -> (() =>
        s"""WITH RECURSIVE ${ivfBaseCtes(cents)},
           |${ivfCappedCtes(1000, cents(0).length)},
           |pr AS (SELECT src AS id1, dst AS id2 FROM cand
           |  WHERE den > 0 AND dp / den >= 0.3 GROUP BY src, dst),
           |dedges AS (SELECT id1 AS src, id2 AS dst FROM pr
           |  UNION ALL SELECT id2, id1 FROM pr),
           |reach(id, lab) AS (
           |  SELECT src, src FROM dedges
           |  UNION
           |  SELECT e.dst, r.lab FROM reach r JOIN dedges e ON e.src = r.id),
           |comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1)
           |SELECT doc_id AS vec_id,
           |  MIN(doc_id) OVER (PARTITION BY component) AS keep_id,
           |  doc_id = MIN(doc_id) OVER (PARTITION BY component) AS kept
           |FROM comp""".stripMargin),
      // ivfTopK: probe ranking (ties -> larger list), argmax assignment,
      // exact cosine within the probed lists only
      "ann_ivf_topk" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)},
           |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           |  FROM embeddings WHERE vec_id = 0),
           |qd AS (SELECT qv,
           |  sqrt(list_reduce(list_transform(qv, x -> x * x), (x, y) -> x + y)) AS qn
           |  FROM q),
           |pr AS (SELECT c.l FROM cents c CROSS JOIN qd
           |  ORDER BY list_reduce(list_transform(range(1, ${cents(0).length + 1}),
           |    i -> c.c[i] * qd.qv[i]), (x, y) -> x + y) / (c.nrm * qd.qn) DESC,
           |    c.l DESC LIMIT 4),
           |asg AS (SELECT doc_id, l FROM (
           |  SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY s DESC, l DESC) AS rk FROM sc) WHERE rk = 1)
           |SELECT e.doc_id AS vec_id,
           |  round(list_reduce(list_transform(range(1, ${cents(0).length + 1}),
           |    i -> e.vec[i] * qd.qv[i]), (x, y) -> x + y)
           |    / (sqrt(list_reduce(list_transform(e.vec, x -> x * x),
           |        (x, y) -> x + y)) * qd.qn), 4) + 0 AS cos
           |FROM emb e JOIN asg a USING (doc_id) JOIN pr ON pr.l = a.l
           |CROSS JOIN qd
           |WHERE list_reduce(list_transform(e.vec, x -> x * x), (x, y) -> x + y) > 0
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin),
      // the streaming twin assigns with the SAME batch-trained model —
      // one oracle shape, stateless in-flight execution on the Spark side
      "stream_ivf_assign" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)}
           |SELECT doc_id AS vec_id, CAST(l AS BIGINT) AS list_id FROM (
           |  SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY s DESC, l DESC) AS rk FROM sc) WHERE rk = 1""".stripMargin),
      // cluster-balanced downsample: the assignment CTE + the single
      // global per-cluster hash row_number the two-stage cap equals
      "sample_cluster_balanced" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)},
           |asg AS (SELECT doc_id, l AS list_id FROM (
           |  SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY s DESC, l DESC) AS rk FROM sc) WHERE rk = 1),
           |r AS (SELECT doc_id, CAST(list_id AS BIGINT) AS group_key,
           |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
           |  FROM asg)
           |SELECT doc_id, group_key, rk FROM (
           |  SELECT doc_id, group_key, row_number() OVER (
           |    PARTITION BY group_key ORDER BY hk, doc_id) AS rk FROM r)
           |WHERE rk <= 20""".stripMargin),
      // c-TF-IDF topic keywords per IVF cluster: assignment from the
      // centroid literals, then the exact-integer tf·LnFix-idf ranking
      "emb_topics" -> (() =>
        s"""WITH ${ivfBaseCtes(cents)},
           |asg AS (SELECT doc_id, l AS list_id FROM (
           |  SELECT doc_id, l, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY s DESC, l DESC) AS rk FROM sc) WHERE rk = 1),
           |toks AS MATERIALIZED (SELECT t.doc_id, t.term, a.list_id FROM (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
           |  FROM documents) t JOIN asg a USING (doc_id)),
           |tf AS (SELECT list_id, term, count(*) AS _tf FROM toks GROUP BY 1, 2),
           |ft AS (SELECT term, count(*) AS _ft FROM toks GROUP BY 1),
           |av AS (SELECT count(*) // greatest(count(DISTINCT list_id), 1) AS a
           |       FROM toks),
           |idfsrc AS (SELECT tf.list_id, tf.term, tf._tf, ft._ft, av.a
           |  FROM tf JOIN ft USING (term) CROSS JOIN av),
           |${graft.functions.LnFix.oracleCtes("tidf", "idfsrc",
              Seq("list_id", "term", "_tf"), "_ft", "_ft + a", "_idf")}
           |SELECT CAST(list_id AS BIGINT) AS list_id, term,
           |  CAST(rank AS BIGINT) AS rank, CAST(score_micro AS BIGINT) AS score_micro
           |FROM (SELECT list_id, term, _tf * _idf AS score_micro,
           |    row_number() OVER (PARTITION BY list_id
           |      ORDER BY _tf * _idf DESC, term) AS rank
           |  FROM tidff) WHERE rank <= 5""".stripMargin))
  }

  /** A fitted PCA model's (component, weight row, offset) VALUES rows. */
  private def pcaWeightRows(m: graft.array.Pca.Model): String =
    m.components.zipWithIndex.map { case (w, c) =>
      s"($c, ${sqlDoubles(w)}::DOUBLE[], ${java.lang.Double.toString(m.offsets(c))})"
    }.mkString(",\n    ")

  /** arr_pca's generated oracle: the fitted 3-component model enters as
    * literals; the SQL re-derives the sparse projection — per row i, Σ
    * over STORED cells of v·w_cj − offset_c, 6dp-rounded exactly as
    * Pca.transform. */
  private def pcaOracles(s: SparkSession, d: String): Map[String, () => String] =
    Map("arr_pca" -> (() =>
      s"""WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i,
         |    CAST(l_linenumber AS BIGINT) AS j, sum(l_quantity) AS v
         |  FROM lineitem GROUP BY 1, 2),
         |w(comp, wrow, off) AS (VALUES
         |    ${pcaWeightRows(pcaModel(s, d, mat(s, d)))})
         |SELECT m.i, CAST(w.comp AS BIGINT) AS j,
         |  round(sum(m.v * w.wrow[m.j + 1]) - w.off, 6) + 0 AS v
         |FROM m CROSS JOIN w GROUP BY m.i, w.comp, w.off""".stripMargin))

  /** arr_recipe_full's generated oracle (the arr_pca technique applied to
    * the full scanpy chain): every preprocessing stage re-derived in SQL
    * from its own already-green twin (row-normalize 6dp → ln(1+10⁴v) →
    * top-5 variance columns at dense n → per-column scale 6dp), then the
    * fitted 2-component model enters as literals and the
    * projection is the arr_pca shape — Σ_stored v·w_cj − offset_c,
    * 6dp-rounded exactly as Pca.transform. */
  private def recipeFullOracles(s: SparkSession, d: String): Map[String, () => String] =
    Map("arr_recipe_full" -> { () =>
      val nrows = matNrows(s, d)
      s"""WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i,
         |    CAST(l_linenumber AS BIGINT) AS j, sum(l_quantity) AS v
         |  FROM lineitem GROUP BY 1, 2),
         |rn AS (SELECT i, j, round(v / sum(v) OVER (PARTITION BY i), 6) AS v FROM m),
         |lg AS (SELECT i, j, ln(1 + v * 10000) AS v FROM rn),
         |nn AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS nrows FROM m),
         |sv AS (SELECT j,
         |  round((sum(v * v) - sum(v) * sum(v) / nn.nrows) / nn.nrows, 6) + 0 AS var_v
         |  FROM lg CROSS JOIN nn GROUP BY j, nn.nrows),
         |kc AS (SELECT j FROM sv ORDER BY var_v DESC, j LIMIT 5),
         |h AS (SELECT i, j, v FROM lg WHERE j IN (SELECT j FROM kc)),
         |st AS (SELECT i, j, v,
         |  sum(v) OVER w / count(*) OVER w AS mu,
         |  sqrt(greatest((sum(v * v) OVER w - sum(v) OVER w * sum(v) OVER w / count(*) OVER w)
         |       / count(*) OVER w, 0)) AS sd
         |  FROM h WINDOW w AS (PARTITION BY j)),
         |sc AS (SELECT i, j,
         |  CASE WHEN sd = 0 THEN 0.0 ELSE round((v - mu) / sd, 4) + 0 END AS v FROM st),
         |w(comp, wrow, off) AS (VALUES
         |    ${pcaWeightRows(fullPcaModel(s, d, nrows, recipePrepped(s, d, nrows)))})
         |SELECT sc.i, CAST(w.comp AS BIGINT) AS j,
         |  round(sum(sc.v * w.wrow[sc.j + 1]) - w.off, 6) + 0 AS v
         |FROM sc CROSS JOIN w GROUP BY sc.i, w.comp, w.off""".stripMargin
    })

  // ------------------------------------------ PQ-family generated oracles
  // Every model parameter (centroids, codebooks, halves, LUTs, probes,
  // inner-product constants, the query vector itself) is deterministic
  // driver-side arithmetic fetched through this run's accessors — the oracles
  // embed those literals and independently re-derive the DISTRIBUTED
  // part: normalization, list assignment, residuals, rotation, subspace
  // argmax encode, ADC scoring, ranking. Explicit ::DOUBLE casts
  // everywhere (bare float literals would infer DECIMAL in DuckDB).

  private def sqlDoubles2(m: Array[Array[Double]]): String =
    m.map(sqlDoubles).mkString("[", ", ", "]")

  /** VALUES rows `(j, k, c DOUBLE[], half)` for PQ codebooks — `half` is
    * the EXACT driver ‖c‖²/2 from [[Similarity]]'s l2Scores. */
  private def booksValuesSql(books: Array[Array[Array[Double]]]): String =
    books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, k) =>
        val half = java.lang.Double.toString(c.map(x => x * x).sum / 2.0)
        s"($j, $k, ${sqlDoubles(c)}::DOUBLE[], $half)"
      }
    }.mkString(",\n    ")

  /** L2-normalized corpus (zero-norm rows dropped) — [[normEmb]]'s twin. */
  private val normEmbCte: String =
    """nemb AS MATERIALIZED (SELECT vec_id, list_transform(v, x -> x / nrm) AS nvec
      |  FROM (SELECT vec_id, v,
      |    sqrt(list_reduce(list_transform(v, x -> x * x), (x, y) -> x + y)) AS nrm
      |    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |          FROM embeddings))
      |  WHERE nrm > 0)""".stripMargin

  /** Per-subspace argmax encode over `$src.$vcol` (m=8, sd=8): the SQL
    * twin of [[Similarity.pqEncode]]'s greatest-of-structs — score is
    * ordered-fold dot − half, ties → LARGER code. */
  private def pqCodeCtes(src: String, vcol: String): String =
    s"""sub AS (SELECT t.vec_id, b.j, b.k,
       |  list_reduce(list_transform(range(1, 9), i -> t.$vcol[b.j * 8 + i] * b.c[i]),
       |    (x, y) -> x + y) - b.half AS s
       |  FROM $src t CROSS JOIN books b),
       |code AS (SELECT vec_id, j, k FROM (
       |  SELECT vec_id, j, k, row_number() OVER (PARTITION BY vec_id, j
       |    ORDER BY s DESC, k DESC) AS rk FROM sub) WHERE rk = 1),
       |codes AS (SELECT vec_id, list(k ORDER BY j) AS cs FROM code GROUP BY vec_id)""".stripMargin

  /** Driver twin of the ADC LUT construction in [[Similarity.pqTopK]] /
    * ivfAdcTopK: lut(j)(k) = ⟨codebook_jk, q_j⟩, left-to-right. */
  private def adcLuts(books: Array[Array[Array[Double]]],
                      q: Array[Double]): Array[Array[Double]] = {
    val sd = books(0)(0).length
    books.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) => x * q(j * sd + i) }.sum)
    }
  }

  /** Driver twin of ivfAdcTopK's probe ranking (ties → larger list). */
  private def adcProbes(cents: Array[Array[Double]], q: Array[Double],
                        nprobe: Int): Seq[Int] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    cents.zipWithIndex.map { case (c, l) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      (c.zip(q).map { case (a, b) => a * b }.sum /
        ((if (cn == 0.0) 1.0 else cn) * qn), l)
    }.sortBy { case (cos, l) => (-cos, -l) }.take(nprobe).map(_._2).toSeq
  }

  /** The IVF-PQ / IVF-OPQ shared ADC oracle: assignment over `pcents`,
    * probe filter, residual (optionally rotated), subspace encode, ADC
    * score = ipConst[list] + Σ LUT picks. */
  private def ivfAdcSql(cents: Array[Array[Double]],
                        books: Array[Array[Array[Double]]],
                        qh: Array[Double],
                        rotation: Option[Array[Array[Double]]]): String = {
    val probes = adcProbes(cents, qh, nprobe = 4).mkString(", ")
    val ipConsts = sqlDoubles(cents.map(c =>
      qh.zip(c).map { case (a, b) => a * b }.sum))
    val lutQ = rotation match {
      case Some(r) => Array.tabulate(r.length)(i =>
        r(i).zip(qh).map { case (a, b) => a * b }.sum)
      case None => qh
    }
    // model literals live in VALUES CTEs and are referenced as COLUMNS:
    // a big literal INSIDE a lambda is rebuilt per evaluation by DuckDB
    // (measured: it turns this family from sub-second to minutes)
    val luts = sqlDoubles2(adcLuts(books, lutQ))
    val rotCte = rotation.map { r =>
      val rotRows = r.zipWithIndex
        .map { case (row, i) => s"(${i + 1}, ${sqlDoubles(row)}::DOUBLE[])" }
        .mkString(",\n    ")
      s""",
         |rotr(i, rrow) AS (VALUES
         |    $rotRows),
         |rres AS (SELECT vec_id, l, list(rv2 ORDER BY i) AS rv FROM (
         |  SELECT r.vec_id, r.l, ro.i,
         |    list_reduce(list_transform(range(1, ${r(0).length + 1}), k -> ro.rrow[k] * r.rv[k]),
         |      (x, y) -> x + y) AS rv2
         |  FROM res r CROSS JOIN rotr ro) GROUP BY vec_id, l)""".stripMargin
    }.getOrElse("")
    val codeSrc = if (rotation.isDefined) "rres" else "res"
    s"""pcents(l, c, nrm) AS (VALUES
       |    ${centsValuesSql(cents)}),
       |books(j, k, c, half) AS (VALUES
       |    ${booksValuesSql(books)}),
       |$normEmbCte,
       |psc AS (SELECT n.vec_id, c.l,
       |  list_reduce(list_transform(range(1, ${cents(0).length + 1}), i -> n.nvec[i] * c.c[i]),
       |    (x, y) -> x + y) / c.nrm AS s
       |  FROM nemb n CROSS JOIN pcents c),
       |asg AS (SELECT vec_id, l FROM (
       |  SELECT vec_id, l, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY s DESC, l DESC) AS rk FROM psc)
       |  WHERE rk = 1 AND l IN ($probes)),
       |res AS (SELECT a.vec_id, a.l,
       |  list_transform(n.nvec, (x, i) -> x - c.c[i]) AS rv
       |  FROM asg a JOIN nemb n USING (vec_id) JOIN pcents c ON c.l = a.l)$rotCte,
       |${pqCodeCtes(codeSrc, "rv")},
       |adc AS (SELECT c.vec_id,
       |  round((${ipConsts}::DOUBLE[])[a.l + 1]
       |    + list_reduce(list_transform(range(1, 9),
       |        j -> ($luts::DOUBLE[][])[j][c.cs[j] + 1]), (x, y) -> x + y), 4) + 0
       |    AS score
       |  FROM codes c JOIN asg a USING (vec_id))""".stripMargin
  }

  /** The PQ/IVF-PQ/OPQ family oracles: the trained codebooks and the
    * query vector enter as literals (see [[ivfGraphOracles]] for the
    * contract). */
  private def pqFamilyOracles(s: SparkSession, d: String): Map[String, () => String] = {
    lazy val qh = {
      val q = queryVec(s, d)
      val qn = math.sqrt(q.map(x => x * x).sum)
      q.map(_ / qn)
    }
    lazy val ivfpqTopk = {
      val (cents, books) = ivfPqModel(s, d)
      s"""WITH ${ivfAdcSql(cents, books, qh, None)}
         |SELECT vec_id, score FROM adc
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
    }
    Map(
      "ann_pq_topk" -> { () =>
        val books = pqModel(s, d)
        val luts = sqlDoubles2(adcLuts(books, qh))
        s"""WITH books(j, k, c, half) AS (VALUES
           |    ${booksValuesSql(books)}),
           |$normEmbCte,
           |${pqCodeCtes("nemb", "nvec")}
           |SELECT vec_id, round(list_reduce(list_transform(range(1, 9),
           |    j -> ($luts::DOUBLE[][])[j][cs[j] + 1]), (x, y) -> x + y), 4) + 0
           |  AS score
           |FROM codes ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      },
      "ann_ivfpq_topk" -> (() => ivfpqTopk),
      "ann_ivfpq_pruned" -> (() => ivfpqTopk),
      "ann_ivfpq_refined" -> { () =>
        val (cents, books) = ivfPqModel(s, d)
        val qnh = java.lang.Double.toString(math.sqrt(qh.map(x => x * x).sum))
        val qhLit = s"(${sqlDoubles(qh)}::DOUBLE[])"
        s"""WITH ${ivfAdcSql(cents, books, qh, None)},
           |cand AS (SELECT vec_id FROM adc ORDER BY score DESC, vec_id LIMIT 100)
           |SELECT n.vec_id,
           |  round(list_reduce(list_transform(range(1, ${qh.length + 1}),
           |      i -> n.nvec[i] * $qhLit[i]), (x, y) -> x + y)
           |    / (sqrt(list_reduce(list_transform(n.nvec, x -> x * x),
           |        (x, y) -> x + y)) * $qnh), 4) + 0 AS cos
           |FROM nemb n JOIN cand USING (vec_id)
           |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
      },
      "ann_opq_topk" -> { () =>
        val (cents, _) = ivfPqModel(s, d)
        val (rot, books) = opqModel(s, d)
        s"""WITH ${ivfAdcSql(cents, books, qh, Some(rot))}
           |SELECT vec_id, score FROM adc
           |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
      })
  }

  /** emb_whiten's generated oracle: the fitted whitening model enters as
    * literals; the SQL re-derives the per-(row, component) projection —
    * Σ_j x_j·w_cj − offset_c, 6dp-rounded exactly as Pca.transform. */
  private def whitenOracles(s: SparkSession, d: String): Map[String, () => String] =
    Map("emb_whiten" -> { () =>
      val m = whitenModelFor(s, d)
      s"""WITH w(comp, wrow, off) AS (VALUES
         |    ${pcaWeightRows(m)}),
         |emb AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec FROM embeddings)
         |SELECT e.vec_id, w.comp,
         |  round(list_reduce(list_transform(range(1, ${m.components(0).length + 1}),
         |      j -> e.vec[j] * w.wrow[j]), (x, y) -> x + y) - w.off, 6) + 0 AS v
         |FROM emb e CROSS JOIN w""".stripMargin
    })

  /** [[graphEdgesSqlPrefix]] + 4 unrolled Louvain local-move rounds from
    * the singleton seed — one (tot, cand, argmax) CTE triple per round,
    * replicating [[Similarity.louvainRefine]]'s exact integer score
    * 2m·S − k·(T − [c=cur]·k) in hugeint and its semi-synchronous parity
    * schedule (round i moves only node % 2 = i % 2). Generated, so the
    * round count and score expression cannot drift from the Scala side. */
  /** [[graphEdgesSqlPrefix]] + 8 unrolled k-core prune rounds (k=2) —
    * generated, so the round count and threshold cannot drift from the
    * Scala side ([[graft.ops.Similarity.kCore]]). */
  private val graphKcoreSql: String = {
    val (k, rounds) = (2, 8)
    val body = (1 to rounds).map { r =>
      s"""kp$r AS (SELECT src AS node FROM e${r - 1} GROUP BY 1 HAVING count(*) >= $k),
         |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
         |        JOIN kp$r a ON a.node = e.src JOIN kp$r b ON b.node = e.dst)""".stripMargin
    }.mkString(",\n")
    graphEdgesSqlPrefix + ",\n" +
      "e0 AS (SELECT src, dst FROM edges),\n" + body + "\n" +
      s"SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e$rounds GROUP BY 1"
  }

  /** ONE Louvain level unrolled in SQL — `rounds` semi-synchronous
    * ΔQ-argmax rounds from singleton seeds over the directed edge CTE
    * `$edges`, labels named `${p}_0` … `${p}_$rounds`. The self-edge
    * exclusion in the candidate sum mirrors louvainRefine's (a no-op on
    * level 0, where mutual-kNN edges have no self-loops; load-bearing on
    * contracted levels, where self-loops carry internal weight into
    * degrees but must not bias "stay"). */
  private def louvainLevelSql(p: String, edges: String, rounds: Int,
                              seed0: Option[String] = None): String = {
    val (deg, mm) = (s"deg_$p", s"mm_$p")
    // every per-round label CTE is MATERIALIZED: each is referenced 3-4
    // times by the next round (and l0_4 three times by the contraction +
    // final mapping) — inlined, the reference tree re-expands the whole
    // unrolled chain exponentially (observed: the 2-level oracle ran
    // minutes instead of seconds before the hints)
    // `seed0` overrides the default singleton seeding (Leiden's aggregate
    // level starts from the PHASE-1 partition, not singletons). Seed
    // nodes absent from `edges` drop out of the round CTEs (inner deg
    // join) — callers re-attach them with a COALESCE on the seed, the
    // isolated-seed rule the Scala side implements with left joins.
    val seedBody = seed0.getOrElse(
      s"SELECT DISTINCT src AS node, src AS label FROM $edges")
    val header =
      s"""$deg AS MATERIALIZED (SELECT src AS node, SUM(w) AS k FROM $edges GROUP BY src),
         |$mm AS (SELECT SUM(w) AS m2 FROM $edges),
         |${p}_0 AS MATERIALIZED ($seedBody)""".stripMargin
    val body = (0 until rounds).map { i =>
      s"""tot_${p}_$i AS (SELECT l.label AS c, SUM(d.k) AS t FROM ${p}_$i l
         |  JOIN $deg d USING (node) GROUP BY l.label),
         |cand_${p}_$i AS (SELECT e.src AS node, l.label AS c, SUM(e.w) AS s
         |  FROM $edges e JOIN ${p}_$i l ON l.node = e.dst WHERE e.src <> e.dst
         |  GROUP BY e.src, l.label
         |  UNION ALL SELECT node, label, 0 FROM ${p}_$i),
         |cand2_${p}_$i AS (SELECT node, c, SUM(s) AS s FROM cand_${p}_$i GROUP BY node, c),
         |${p}_${i + 1} AS MATERIALIZED (SELECT node,
         |  CASE WHEN node % 2 = ${i % 2} THEN c ELSE a END AS label FROM (
         |  SELECT c2.node, c2.c, l.label AS a,
         |    row_number() OVER (PARTITION BY c2.node ORDER BY
         |      CAST(mm.m2 AS HUGEINT) * c2.s -
         |      CAST(d.k AS HUGEINT) * (t.t - CASE WHEN c2.c = l.label THEN d.k ELSE 0 END) DESC,
         |      c2.c) AS rk
         |  FROM cand2_${p}_$i c2
         |    JOIN ${p}_$i l USING (node) JOIN $deg d USING (node)
         |    JOIN tot_${p}_$i t ON t.c = c2.c
         |    CROSS JOIN $mm mm) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    header + ",\n" + body
  }

  private def graphLouvainSqlFrom(prefix: String): String =
    prefix + ",\n" + louvainLevelSql("l0", "edges", 4) +
      "\nSELECT node, label AS cluster FROM l0_4"

  /** Multi-level Louvain unrolled: level 0's four rounds, phase-2
    * contraction as ONE (label, label) aggregate over the directed edges
    * (intra-community rows merge into a single (c, c, 2·W_in) self-loop —
    * the same degree/total/m2 values the Scala side's unordered
    * (c, c, W_in)-both-directions form produces), level 1's four rounds
    * on the contracted graph, then the final mapping composes the two
    * labelings. Generated from the same level template as graph_louvain,
    * so the per-level math cannot drift between the twins. */
  private def graphLouvainMlSqlFrom(prefix: String): String =
    prefix + ",\n" + louvainLevelSql("l0", "edges", 4) + ",\n" +
      """edges1 AS MATERIALIZED (SELECT la.label AS src, lb.label AS dst,
        |    CAST(SUM(e.w) AS BIGINT) AS w
        |  FROM edges e JOIN l0_4 la ON la.node = e.src
        |    JOIN l0_4 lb ON lb.node = e.dst
        |  GROUP BY 1, 2)""".stripMargin + ",\n" +
      louvainLevelSql("l1", "edges1", 4) +
      "\nSELECT m.node, l.label AS cluster FROM l0_4 m JOIN l1_4 l ON l.node = m.label"

  /** Leiden unrolled (L59): phase-1 four rounds (the shared level
    * template), the REFINEMENT level over the intra-community edge
    * restriction (default singleton seeds — containment is structural:
    * no cross-community edge exists in `intra`), the refined remainder
    * re-attached (nodes with no intra edge stay their own singleton),
    * contraction on the REFINED partition, and the aggregate level
    * seeded with the PHASE-1 labels (the Leiden twist) — isolated
    * refined super-nodes keep their seed via the final COALESCE, the
    * same left-join rule the Scala side applies. */
  private def graphLeidenSqlFrom(prefix: String): String =
    prefix + ",\n" + louvainLevelSql("l0", "edges", 4) + ",\n" +
      """intra AS MATERIALIZED (SELECT e.src, e.dst, e.w FROM edges e
        |  JOIN l0_4 la ON la.node = e.src JOIN l0_4 lb ON lb.node = e.dst
        |  WHERE la.label = lb.label)""".stripMargin + ",\n" +
      louvainLevelSql("lr", "intra", 2) + ",\n" +
      """refined AS MATERIALIZED (
        |  SELECT node, label FROM lr_2
        |  UNION ALL
        |  SELECT node, node AS label
        |  FROM (SELECT DISTINCT src AS node FROM edges)
        |  WHERE node NOT IN (SELECT node FROM lr_2)),
        |edgesr AS MATERIALIZED (SELECT ra.label AS src, rb.label AS dst,
        |    CAST(SUM(e.w) AS BIGINT) AS w
        |  FROM edges e JOIN refined ra ON ra.node = e.src
        |    JOIN refined rb ON rb.node = e.dst
        |  GROUP BY 1, 2),
        |seed2 AS MATERIALIZED (SELECT r.label AS node, MAX(l.label) AS label
        |  FROM refined r JOIN l0_4 l USING (node) GROUP BY r.label)""".stripMargin + ",\n" +
      louvainLevelSql("l2", "edgesr", 4,
        seed0 = Some("SELECT node, label FROM seed2")) + "\n" +
      """SELECT r.node, COALESCE(l2.label, s2.label) AS cluster
        |FROM refined r
        |  JOIN seed2 s2 ON s2.node = r.label
        |  LEFT JOIN l2_4 l2 ON l2.node = r.label""".stripMargin

  /** The BM25-hybrid fused table WITHOUT the final top-k cut — shared by
    * the batch oracle (ann_hybrid_bm25 = this + ORDER BY/LIMIT) and the
    * S25 stream twin (stream_hybrid_rrf emits the whole pre-cut table). */
  private val annHybridBm25NoLimitSql: String =
    """WITH tok AS (SELECT doc_id AS id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
      |qt AS (SELECT DISTINCT token FROM tok WHERE id = 0 ORDER BY token LIMIT 8),
      |lens AS (SELECT id, count(*) AS len FROM tok GROUP BY 1),
      |nn AS (SELECT count(*) AS n_docs, SUM(len) AS total_len FROM lens),
      |tf AS (SELECT id, token, count(*) AS tf FROM tok JOIN qt USING (token)
      |  GROUP BY 1, 2),
      |dft AS (SELECT token, count(DISTINCT id) AS df FROM tok JOIN qt USING (token)
      |  GROUP BY 1),
      |""".stripMargin +
      graft.functions.LnFix.oracleCtes("lfbm",
        "(SELECT d.token, d.df, n.n_docs FROM dft d CROSS JOIN nn n)",
        Seq("token"), "2 * df + 1", "2 * n_docs + 2", "idf_micro") + ",\n" +
      """kw AS (SELECT t.id, SUM(CAST(
      |    (CAST(f.idf_micro AS HUGEINT) * 44 * n.total_len * t.tf) //
      |    (20 * CAST(n.total_len AS HUGEINT) * t.tf
      |      + 6 * CAST(n.total_len AS HUGEINT)
      |      + 18 * CAST(l.len AS HUGEINT) * n.n_docs) AS BIGINT)) AS s
      |  FROM tf t JOIN lfbmf f USING (token) JOIN lens l USING (id)
      |  CROSS JOIN nn n GROUP BY 1),
      |kwr AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS kw_rank
      |        FROM (SELECT * FROM kw WHERE s > 0 ORDER BY s DESC, id LIMIT 100)),
      |cosd AS (SELECT e.vec_id AS id,
      |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
      |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
      |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
      |  FROM embeddings e
      |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  CROSS JOIN range(64) r(i) GROUP BY e.vec_id),
      |vr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS vec_rank
      |       FROM (SELECT * FROM cosd ORDER BY cos DESC, id LIMIT 100))
      |SELECT id,
      |  CAST(coalesce(1000000000 // (60 + kw_rank), 0) +
      |       coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf,
      |  CAST(coalesce(kw_rank, 0) AS BIGINT) AS kw_rank,
      |  CAST(coalesce(vec_rank, 0) AS BIGINT) AS vec_rank
      |FROM kwr FULL OUTER JOIN vr USING (id)""".stripMargin

  private val graphLouvainSql: String = graphLouvainSqlFrom(graphEdgesSqlPrefix)
  private val graphLouvainMlSql: String = graphLouvainMlSqlFrom(graphEdgesSqlPrefix)
  private val graphLeidenSql: String = graphLeidenSqlFrom(graphEdgesSqlPrefix)

  /** [[graphEdgesSqlPrefix]] + 10 unrolled PageRank rounds in pure
    * nonneg-BIGINT arithmetic — every division a floor div (`//` there,
    * `div` on the Spark side), replicating [[Similarity.pageRank]]'s
    * fixed-point update r' = (15·S)//(100·N) + (85·Σ(r//k))//100
    * round for round. Generated, so the round count and the update
    * expression cannot drift from the Scala side. */
  /** [[graphPagerankSql]] with the teleport mass restarting at seeds
    * {0,1,2,3} — generated alongside the uniform form so the fixed-point
    * contract and round count stay in lockstep with
    * [[graft.ops.Similarity.personalizedPageRank]]. */
  private def graphPprSqlFrom(prefix: String): String = {
    val rounds = 10
    val seeds = "(0, 1, 2, 3)"
    val body = (0 until rounds).map { i =>
      s"""pr${i + 1} AS (SELECT e.src AS node,
         |  (CASE WHEN e.src IN $seeds THEN (15 * 1000000000000) // (100 * 4)
         |        ELSE 0 END) +
         |    (85 * SUM(p.r // d.k)) // 100 AS r
         |  FROM pr$i p JOIN deg d ON d.node = p.node
         |    JOIN edges e ON e.dst = p.node
         |  GROUP BY e.src)""".stripMargin
    }.mkString(",\n")
    prefix + ",\n" +
      s"""deg AS (SELECT src AS node, count(*) AS k FROM edges GROUP BY src),
         |pr0 AS (SELECT d.node, CASE WHEN d.node IN $seeds
         |  THEN 1000000000000 // 4 ELSE 0 END AS r FROM deg d)""".stripMargin +
      ",\n" + body +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank_e12 FROM pr$rounds"
  }

  private val graphPprSql: String = graphPprSqlFrom(graphEdgesSqlPrefix)

  /** The PageRank CTE chain alone (deg/nn/pr0 + 10 unrolled rounds over
    * an `edges` CTE the prefix must define) — shared by the node-keyed
    * graph oracles and the TextRank keyword oracle, which appends its own
    * name join instead of the plain final select. */
  private def pagerankCtesFrom(prefix: String): String = {
    val rounds = 10
    val body = (0 until rounds).map { i =>
      s"""pr${i + 1} AS (SELECT e.src AS node,
         |  (15 * 1000000000000) // (100 * nn.n) +
         |    (85 * SUM(p.r // d.k)) // 100 AS r
         |  FROM pr$i p JOIN deg d ON d.node = p.node
         |    JOIN edges e ON e.dst = p.node CROSS JOIN nn
         |  GROUP BY e.src, nn.n)""".stripMargin
    }.mkString(",\n")
    prefix + ",\n" +
      """deg AS (SELECT src AS node, count(*) AS k FROM edges GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |pr0 AS (SELECT d.node, 1000000000000 // nn.n AS r FROM deg d CROSS JOIN nn)""".stripMargin +
      ",\n" + body
  }

  private def graphPagerankSqlFrom(prefix: String): String =
    pagerankCtesFrom(prefix) +
      "\nSELECT node, CAST(r AS BIGINT) AS rank_e12 FROM pr10"

  private val graphPagerankSql: String = graphPagerankSqlFrom(graphEdgesSqlPrefix)

  /** [[graphEdgesSqlPrefix]] + the eigenvector power iteration unrolled:
    * per round one HUGEINT matvec over the ≥1-clamped weights and the
    * exact renormalization  x' = y // max(1, max(y) // SCALE) — the
    * identical BIGINT floors [[Similarity.eigenCentrality]] takes, so
    * the two engines walk the same integers round for round. */
  private def graphEigenSqlFrom(prefix: String): String = {
    val rounds = 10
    val scale = "1000000000000"
    val body = (1 to rounds).map { i =>
      s"""ey$i AS (SELECT e.src AS node,
         |  SUM(CAST(GREATEST(e.w, 1) AS HUGEINT) * x.x) AS y
         |  FROM edges e JOIN ex${i - 1} x ON x.node = e.dst GROUP BY 1),
         |eq$i AS (SELECT GREATEST(max(y) // $scale, 1) AS q FROM ey$i),
         |ex$i AS MATERIALIZED (SELECT node, CAST(y // q AS BIGINT) AS x
         |  FROM ey$i CROSS JOIN eq$i)""".stripMargin
    }.mkString(",\n")
    prefix + ",\n" +
      s"ex0 AS (SELECT DISTINCT src AS node, CAST($scale AS BIGINT) AS x FROM edges)" +
      ",\n" + body +
      s"\nSELECT node, x AS ev_e12 FROM ex$rounds"
  }

  private val graphEigenSql: String = graphEigenSqlFrom(graphEdgesSqlPrefix)

  /** [[graphEdgesSqlPrefix]] + the spectral power iteration unrolled —
    * per iteration one hugeint matvec, the exact deflation/norm
    * aggregates, and the correctly-rounded double rescale, exactly the
    * arithmetic of [[Similarity.spectralEmbed]] (which see for why the
    * fixed-point contract makes the two engines bit-equal). */
  private def graphSpectralSqlFrom(prefix: String): String = {
    val iters = 12
    def sweep(p: String, init: String, prev: Option[String]): String = {
      val x0 = s"${p}x0 AS MATERIALIZED (SELECT node, CAST($init AS BIGINT) AS xq FROM deg)"
      val its = (1 to iters).map { t =>
        val base =
          s"""${p}y$t AS (SELECT e.src AS node, SUM(CAST(e.w AS HUGEINT) * x.xq) AS y
             |  FROM edgesl e JOIN ${p}x${t - 1} x ON x.node = e.dst GROUP BY e.src),
             |${p}z$t AS MATERIALIZED (SELECT y.node, d.d,
             |  CAST(round(CAST(y.y AS DOUBLE) / (CAST(d.d AS DOUBLE) * 2.0)) AS BIGINT) AS zq
             |  FROM ${p}y$t y JOIN deg d USING (node))""".stripMargin
        // ONE sum bundle per iteration; alpha/beta/n2 derive from it with
        // the SAME scalar algebra (term order and all) as spectralEmbed —
        // n2 is the algebraic expansion of Σd(z−α−βp)² over pre-round
        // values, matching the Spark side exactly
        val defl = prev match {
          case None =>
            s"""${p}s$t AS (SELECT CAST(SUM(CAST(d AS HUGEINT) * zq) AS DOUBLE) AS s1,
               |  CAST(SUM(CAST(d AS HUGEINT) * zq * zq) AS DOUBLE) AS s2 FROM ${p}z$t),
               |${p}c$t AS (SELECT s1 / sumd AS alpha,
               |  (s2 - 2.0 * (s1 / sumd) * s1 + (s1 / sumd) * (s1 / sumd) * sumd) AS n2, sumd
               |  FROM ${p}s$t CROSS JOIN (SELECT CAST(sumd AS DOUBLE) AS sumd FROM sd) sdd),
               |${p}x$t AS MATERIALIZED (SELECT z.node,
               |  CAST(round(CAST(round(z.zq - c.alpha) AS BIGINT)
               |    * (1000000 * sqrt(c.sumd / c.n2))) AS BIGINT) AS xq
               |  FROM ${p}z$t z CROSS JOIN ${p}c$t c)""".stripMargin
          case Some(pv) =>
            s"""${p}j$t AS MATERIALIZED (SELECT z.node, z.d, z.zq, p.xq AS pq
               |  FROM ${p}z$t z JOIN $pv p USING (node)),
               |${p}s$t AS (SELECT
               |  CAST(SUM(CAST(d AS HUGEINT) * zq) AS DOUBLE) AS t1,
               |  CAST(SUM(CAST(d AS HUGEINT) * zq * zq) AS DOUBLE) AS t2,
               |  CAST(SUM(CAST(d AS HUGEINT) * zq * pq) AS DOUBLE) AS t3,
               |  CAST(SUM(CAST(d AS HUGEINT) * pq) AS DOUBLE) AS t4,
               |  CAST(SUM(CAST(d AS HUGEINT) * pq * pq) AS DOUBLE) AS t5 FROM ${p}j$t),
               |${p}c$t AS (SELECT t1 / sumd AS alpha, t3 / t5 AS beta,
               |  (t2 - 2.0 * (t1 / sumd) * t1 - 2.0 * (t3 / t5) * t3
               |   + (t1 / sumd) * (t1 / sumd) * sumd
               |   + 2.0 * (t1 / sumd) * (t3 / t5) * t4
               |   + (t3 / t5) * (t3 / t5) * t5) AS n2, sumd
               |  FROM ${p}s$t CROSS JOIN (SELECT CAST(sumd AS DOUBLE) AS sumd FROM sd) sdd),
               |${p}x$t AS MATERIALIZED (SELECT j.node,
               |  CAST(round(CAST(round(j.zq - c.alpha - c.beta * j.pq) AS BIGINT)
               |    * (1000000 * sqrt(c.sumd / c.n2))) AS BIGINT) AS xq
               |  FROM ${p}j$t j CROSS JOIN ${p}c$t c)""".stripMargin
        }
        s"$base,\n$defl"
      }.mkString(",\n")
      s"$x0,\n$its"
    }
    prefix + ",\n" +
      """deg AS MATERIALIZED (SELECT src AS node, SUM(w) AS d FROM edges GROUP BY src),
        |sd AS MATERIALIZED (SELECT SUM(d) AS sumd FROM deg),
        |edgesl AS MATERIALIZED (SELECT src, dst, w FROM edges
        |  UNION ALL SELECT node AS src, node AS dst, d AS w FROM deg)""".stripMargin + ",\n" +
      sweep("a", "(node % 7 - 3) * 333333", None) + ",\n" +
      sweep("b", "(node % 5 - 2) * 500000", Some(s"ax$iters")) + "\n" +
      s"SELECT v2.node, v2.xq AS e1_q, v3.xq AS e2_q FROM ax$iters v2 JOIN bx$iters v3 USING (node)"
  }

  private val graphSpectralSql: String = graphSpectralSqlFrom(graphEdgesSqlPrefix)

  /** The BPE induction rounds unrolled in DuckDB — per round the pair
    * count + argmax + positional leftmost-nonoverlap merge application,
    * exactly [[TextOps.bpeTrain]]'s arithmetic (integer counts, lexico
    * tie-break, odd-position-within-run greedy rule). */
  private val textBpeSql: String = {
    val merges = 8
    val rounds = (1 to merges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT word, cnt, i, t,
         |    lead(t) OVER (PARTITION BY word ORDER BY i) AS tn
         |  FROM (SELECT word, cnt, u.i AS i, toks[u.i] AS t
         |        FROM v${r - 1}, unnest(range(1, len(toks) + 1)) u(i))),
         |top$r AS MATERIALIZED (SELECT t AS a, tn AS b, SUM(cnt) AS n FROM p$r
         |  WHERE tn IS NOT NULL GROUP BY t, tn ORDER BY n DESC, a, b LIMIT 1),
         |m$r AS MATERIALIZED (SELECT p.word, p.i,
         |    row_number() OVER (PARTITION BY p.word ORDER BY p.i) AS rn
         |  FROM p$r p JOIN top$r tp ON p.t = tp.a AND p.tn = tp.b),
         |k$r AS MATERIALIZED (SELECT word, i FROM (
         |  SELECT word, i, row_number() OVER (PARTITION BY word, i - rn ORDER BY i) AS ii
         |  FROM m$r) WHERE ii % 2 = 1),
         |v$r AS MATERIALIZED (SELECT word, cnt, list(tok ORDER BY i) AS toks FROM (
         |  SELECT p.word, p.cnt, p.i,
         |    CASE WHEN k.i IS NOT NULL THEN (SELECT a || b FROM top$r) ELSE p.t END AS tok
         |  FROM p$r p
         |    LEFT JOIN k$r k ON k.word = p.word AND k.i = p.i
         |    LEFT JOIN k$r kd ON kd.word = p.word AND kd.i = p.i - 1
         |  WHERE kd.i IS NULL) GROUP BY word, cnt)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to merges).map(r =>
      s"SELECT $r AS merge_rank, a AS mleft, b AS mright, CAST(n AS BIGINT) AS pair_n FROM top$r")
      .mkString("\nUNION ALL ")
    s"""WITH w AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v0 AS MATERIALIZED (SELECT word, cnt,
       |  list_append(list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)), '</w>') AS toks FROM w),
       |$rounds
       |$finals""".stripMargin
  }

  /** [[graft.ops.TextOps.klDivergence]]'s twin: union-vocabulary counts,
    * two chained LnFix Laplace models, the exact BIGINT Σ c_p·(nll_q −
    * nll_p), clamp-then-floor-divide per-token mean. */
  private val reportKlSql: String = {
    import graft.functions.LnFix
    s"""WITH tok AS (SELECT (source < 'src10') AS _ref,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
       |cp AS (SELECT token, count(*) AS c_p FROM tok WHERE _ref GROUP BY 1),
       |cq AS (SELECT token, count(*) AS c_q FROM tok WHERE NOT _ref GROUP BY 1),
       |j AS (SELECT coalesce(cp.token, cq.token) AS token,
       |    coalesce(c_p, 0) AS c_p, coalesce(c_q, 0) AS c_q
       |  FROM cp FULL OUTER JOIN cq ON cp.token = cq.token),
       |t AS (SELECT CAST(sum(c_p) AS BIGINT) AS n_p,
       |    CAST(sum(c_q) AS BIGINT) AS n_q, count(*) AS v FROM j),
       |src AS (SELECT j.token, j.c_p, j.c_q, t.n_p, t.n_q, t.v FROM j, t),
       |${LnFix.oracleCtes("kp", "src",
            Seq("token", "c_p", "c_q", "n_p", "n_q", "v"), "c_p + 1", "n_p + v", "nll_p")},
       |${LnFix.oracleCtes("kq", "kpf",
            Seq("token", "c_p", "n_p", "nll_p"), "c_q + 1", "n_q + v", "nll_q")}
       |SELECT max(n_p) AS n_tok_p,
       |  CAST(sum(c_p * (nll_q - nll_p)) AS BIGINT) AS kl_nsum_micro,
       |  CAST(greatest(CAST(sum(c_p * (nll_q - nll_p)) AS BIGINT), 0)
       |    // max(n_p) AS BIGINT) AS kl_micro_per_tok
       |FROM kqf""".stripMargin
  }

  /** [[graft.ops.TextOps.pmiCollocations]]'s twin: adjacent-token bigram
    * counts over the shared split rule, the minCount=5 support cut, three
    * chained LnFix tables (−ln c_x/N_u, −ln c_y/N_u, −ln c_xy/N_b), exact
    * integer PMI = nll_x + nll_y − nll_xy, top-20 with (w1, w2) ties. */
  /** TextRank oracle: the PMI bigram construction feeding the shared
    * unrolled-PageRank chain — node ids are the mdHash60 parity hash, so
    * the whole word graph and its ranks are bit-equal across engines. */
  private val textKeywordsSql: String = {
    val prefix =
      s"""WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |big AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
         |  FROM wl, unnest(range(1, len(w))) AS u(i)),
         |cxy AS (SELECT w1, w2 FROM big WHERE w1 <> w2
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |hp AS (SELECT ('0x' || substring(md5(w1), 1, 15))::BIGINT AS h1,
         |    ('0x' || substring(md5(w2), 1, 15))::BIGINT AS h2 FROM cxy),
         |mutp AS (SELECT DISTINCT least(h1, h2) AS id1, greatest(h1, h2) AS id2
         |  FROM hp),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM mutp
         |  UNION ALL SELECT id2, id1 FROM mutp)""".stripMargin
    pagerankCtesFrom(prefix) + ",\n" +
      """names AS (SELECT DISTINCT token,
        |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS node
        |  FROM (SELECT w1 AS token FROM cxy UNION ALL SELECT w2 FROM cxy))
        |SELECT n.token, CAST(p.r AS BIGINT) AS rank_e12
        |FROM pr10 p JOIN names n USING (node)
        |ORDER BY rank_e12 DESC, token LIMIT 20""".stripMargin
  }

  private val textPmiSql: String = {
    import graft.functions.LnFix
    s"""WITH wl AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(w) AS token FROM wl),
       |big AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
       |  FROM wl, unnest(range(1, len(w))) AS u(i)),
       |cxy AS (SELECT w1, w2, count(*) AS c_xy FROM big
       |  GROUP BY 1, 2 HAVING count(*) >= 5),
       |cx AS (SELECT token, count(*) AS c_tok FROM tok GROUP BY 1),
       |nuc AS (SELECT count(*) AS nu FROM tok),
       |nbc AS (SELECT count(*) AS nb FROM big),
       |src AS (SELECT cxy.w1, cxy.w2, cxy.c_xy, x.c_tok AS c_x, y.c_tok AS c_y,
       |    nuc.nu, nbc.nb
       |  FROM cxy JOIN cx x ON x.token = cxy.w1 JOIN cx y ON y.token = cxy.w2,
       |    nuc, nbc),
       |${LnFix.oracleCtes("la", "src",
            Seq("w1", "w2", "c_xy", "c_y", "nu", "nb"), "c_x", "nu", "nll_x")},
       |${LnFix.oracleCtes("lb", "laf",
            Seq("w1", "w2", "c_xy", "nb", "nll_x"), "c_y", "nu", "nll_y")},
       |${LnFix.oracleCtes("lc", "lbf",
            Seq("w1", "w2", "c_xy", "nll_x", "nll_y"), "c_xy", "nb", "nll_xy")}
       |SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
       |  CAST(nll_x + nll_y - nll_xy AS BIGINT) AS pmi_micro
       |FROM lcf ORDER BY pmi_micro DESC, w1, w2 LIMIT 20""".stripMargin
  }

  /** [[graft.ops.Sampling.dsirSelect]]'s twin: hashed unigram+bigram
    * buckets (md5-prefix mod B — bit-equal to mdHash60), two chained
    * LnFix cost tables (raw and target Laplace models over the SAME
    * bucket frame), per-doc BIGINT importance sums, top-100 keep flag. */
  private val sampleDsirPrefix: String = {
    val b = graft.ops.Sampling.DsirBuckets
    def gramsSql(src: String): String =
      s"""(SELECT doc_id,
         |  ('0x' || substring(md5(gram), 1, 15))::BIGINT % $b AS bucket FROM (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS gram
         |  FROM $src
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
         |    i -> w[i] || chr(1) || w[i+1])) AS gram
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM $src))
         | WHERE gram <> '')""".stripMargin
    s"""WITH gr AS MATERIALIZED (SELECT * FROM ${gramsSql("documents")}),
       |gt AS (SELECT * FROM ${gramsSql(
            "(SELECT doc_id, text FROM documents WHERE source < 'src10')")}),
       |cr AS (SELECT bucket, count(*) AS c_r FROM gr GROUP BY 1),
       |ct AS (SELECT bucket, count(*) AS c_t FROM gt GROUP BY 1),
       |m0 AS (SELECT cr.bucket, cr.c_r, coalesce(ct.c_t, 0) AS c_t,
       |    tr.tot_r, tt.tot_t
       |  FROM cr LEFT JOIN ct USING (bucket)
       |  CROSS JOIN (SELECT CAST(sum(c_r) AS BIGINT) AS tot_r FROM cr) tr
       |  CROSS JOIN (SELECT CAST(coalesce(sum(c_t), 0) AS BIGINT) AS tot_t FROM ct) tt),
       |${graft.functions.LnFix.oracleCtes("dsa", "m0",
            Seq("bucket", "c_t", "tot_t"), "c_r + 1", s"tot_r + $b", "nll_r")},
       |${graft.functions.LnFix.oracleCtes("dsb", "dsaf",
            Seq("bucket", "nll_r"), "c_t + 1", s"tot_t + $b", "nll_t")},
       |dl AS (SELECT bucket, nll_r - nll_t AS delta FROM dsbf),
       |sc0 AS (SELECT g.doc_id, sum(dl.delta) AS s FROM gr g
       |  JOIN dl USING (bucket) GROUP BY 1),
       |sc AS MATERIALIZED (SELECT d.doc_id,
       |    CAST(coalesce(s.s, 0) AS BIGINT) AS score_micro
       |  FROM documents d LEFT JOIN sc0 s USING (doc_id))""".stripMargin
  }

  private val sampleDsirSql: String = sampleDsirPrefix +
    """,
      |top AS (SELECT doc_id FROM sc ORDER BY score_micro DESC, doc_id LIMIT 100)
      |SELECT doc_id, score_micro,
      |  doc_id IN (SELECT doc_id FROM top) AS keep FROM sc""".stripMargin

  /** The stream twin checks the SCORES alone (admission thresholds are a
    * sink policy, top-n is a batch notion): same prefix verbatim. */
  private val streamDsirSql: String = sampleDsirPrefix +
    "\nSELECT doc_id, score_micro FROM sc"

  // ------------------- unigram-LM (SentencePiece) EM unroll, pure SQL
  // The whole hard-EM training of TextOps.unigramTrain is SQL-expressible
  // (the text_bpe unroll precedent): seed counts are a substring
  // aggregate, piece costs are the shared LnFix integer chain, and the
  // E-step Viterbi is a recursive window DP (state = last 5 best values
  // + the back-pointer list) with the exact tie-break (equal cost →
  // smallest start, i.e. longest piece) and add-one M-step.

  /** LnFix cost chain `r` over counts table `src(piece, cnt)` →
    * `uln${r}f(piece, cost)` = −ln(cnt/Σcnt) in micro-nats. */
  private def unigramCostCtes(r: Int, src: String): String =
    s"""utot$r AS (SELECT sum(cnt) AS total FROM $src),
       |ulnsrc$r AS (SELECT piece, cnt, total FROM $src CROSS JOIN utot$r),
       |${graft.functions.LnFix.oracleCtes(s"uln$r", s"ulnsrc$r",
            Seq("piece"), "cnt", "total", "cost")},
       |ulnm$r AS MATERIALIZED (SELECT piece, cost FROM uln${r}f)""".stripMargin

  /** Viterbi round `r` under `uln${r}f`: dp$r carries (best(i),
    * best(i−1)…best(i−4), back list); NULL = unreachable (INF). seg$r
    * walks the back pointers; use$r is the per-word piece multiset. */
  private def unigramDpCtes(r: Int): String = {
    val joins = (1 to 5).map { l =>
      s"LEFT JOIN ulnm$r c$l ON d.i + 1 >= $l AND c$l.piece = substr(d.word, d.i + 2 - $l, $l)"
    }.mkString("\n       |      ").stripMargin
    val cands = (1 to 5).map(l => s"j.b${l - 1} + j.k$l AS cand$l").mkString(", ")
    val backCase = (5 to 1 by -1).map(l => s"WHEN cand$l = nb THEN i + 1 - $l").mkString(" ")
    s"""dp$r(word, n, i, b0, b1, b2, b3, b4, backs) AS (
       |  SELECT word, length(word) AS n, 0 AS i, CAST(0 AS BIGINT) AS b0,
       |    CAST(NULL AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
       |    CAST(NULL AS BIGINT) AS b3, CAST(NULL AS BIGINT) AS b4,
       |    CAST([] AS BIGINT[]) AS backs
       |  FROM w
       |  UNION ALL
       |  SELECT word, n, i + 1, nb, b0, b1, b2, b3,
       |    list_append(backs, CAST(CASE $backCase END AS BIGINT))
       |  FROM (
       |    SELECT t.*, least(t.cand1, t.cand2, t.cand3, t.cand4, t.cand5) AS nb
       |    FROM (
       |      SELECT j.word, j.n, j.i, j.b0, j.b1, j.b2, j.b3, j.b4, j.backs, $cands
       |      FROM (
       |        SELECT d.*, c1.cost AS k1, c2.cost AS k2, c3.cost AS k3,
       |          c4.cost AS k4, c5.cost AS k5
       |        FROM dp$r d
       |      $joins
       |        WHERE d.i < d.n) j) t)),
       |seg$r(word, p, backs) AS (
       |  SELECT word, CAST(n AS BIGINT) AS p, backs FROM dp$r WHERE i = n
       |  UNION ALL
       |  SELECT word, backs[CAST(p AS INT)], backs FROM seg$r WHERE p > 0),
       |use$r AS MATERIALIZED (SELECT word, substr(word, CAST(backs[CAST(p AS INT)] AS INT) + 1,
       |    CAST(p AS INT) - CAST(backs[CAST(p AS INT)] AS INT)) AS piece
       |  FROM seg$r WHERE p > 0)""".stripMargin
  }

  /** One EM round: segment-weighted piece counts + the add-one M-step. */
  private def unigramMStepCtes(r: Int): String =
    s"""um$r AS (SELECT u.piece, sum(w.cnt) AS segc FROM use$r u
       |  JOIN w USING (word) GROUP BY 1),
       |uc${r + 1} AS MATERIALIZED (SELECT v.piece, coalesce(m.segc, 0) + 1 AS cnt
       |  FROM uc$r v LEFT JOIN um$r m USING (piece))""".stripMargin

  /** Shared prefix: word counts → seed vocab (all single chars + top
    * multi-char substrings by cnt·(len−1), vocabSize 120, maxPieceLen 5)
    * → 2 unrolled EM rounds → final counts uc2 + final costs uln2f. */
  private val unigramPrefixSql: String =
    s"""WITH RECURSIVE
       |w AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM (
       |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |subs AS MATERIALIZED (SELECT substr(w.word, CAST(u.i AS INT), CAST(v.l AS INT)) AS piece,
       |    sum(w.cnt) AS c
       |  FROM w, unnest(range(1, length(w.word) + 1)) u(i), unnest(range(1, 6)) v(l)
       |  WHERE u.i + v.l - 1 <= length(w.word) GROUP BY 1),
       |sing AS (SELECT piece, c FROM subs WHERE length(piece) = 1),
       |mult AS (SELECT piece, c FROM (SELECT piece, c,
       |    row_number() OVER (ORDER BY c * (length(piece) - 1) DESC, piece) AS rk
       |  FROM subs WHERE length(piece) > 1)
       |  WHERE rk <= 120 - (SELECT count(*) FROM sing)),
       |uc0 AS MATERIALIZED (SELECT piece, c AS cnt FROM sing UNION ALL SELECT piece, c FROM mult),
       |${unigramCostCtes(0, "uc0")},
       |${unigramDpCtes(0)},
       |${unigramMStepCtes(0)},
       |${unigramCostCtes(1, "uc1")},
       |${unigramDpCtes(1)},
       |${unigramMStepCtes(1)},
       |${unigramCostCtes(2, "uc2")}""".stripMargin

  /** [[TextOps.unigramTrain]]'s twin: final counts + final costs. */
  private val textUnigramSql: String = unigramPrefixSql + "\n" +
    """SELECT c.piece, CAST(c.cnt AS BIGINT) AS cnt, f.cost AS nll_micro
      |FROM uc2 c JOIN uln2f f USING (piece)""".stripMargin

  /** [[TextOps.unigramTokens]]'s twin: a third Viterbi pass under the
    * final model, per-doc piece counts over the exploded word stream. */
  private val textUnigramTokensSql: String = unigramPrefixSql + ",\n" +
    unigramDpCtes(2) + ",\n" +
    """untok AS (SELECT word, count(*) AS ntok FROM use2 GROUP BY 1),
      |udocw AS (SELECT doc_id, word FROM (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
      |  FROM documents) WHERE word <> '')
      |SELECT d.doc_id, CAST(coalesce(sum(n.ntok), 0) AS BIGINT) AS n_unigram_tokens
      |FROM documents d
      |LEFT JOIN udocw dw ON dw.doc_id = d.doc_id
      |LEFT JOIN untok n ON n.word = dw.word
      |GROUP BY d.doc_id""".stripMargin

  /** [[textBpeSql]]'s merge rounds, then the per-document token count
    * under the final segmentation — [[TextOps.bpeTokens]]'s twin. */
  private val textBpeTokensSql: String = {
    val upToFinals = textBpeSql.substring(0, textBpeSql.indexOf("\nSELECT 1 AS merge_rank"))
    upToFinals +
      """
        |SELECT d.doc_id, CAST(coalesce(SUM(len(v.toks)), 0) AS BIGINT) AS n_bpe_tokens
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        |    FROM documents) WHERE word <> '') dw ON dw.doc_id = d.doc_id
        |LEFT JOIN v8 v ON v.word = dw.word
        |GROUP BY d.doc_id""".stripMargin
  }

  /** L66 twin: the same unrolled-merge prefix, per-doc BPE counts as a
    * CTE, then one per-source aggregate + the 1e-6 integral division. */
  private val textCompressionSql: String = {
    val upToFinals = textBpeSql.substring(0, textBpeSql.indexOf("\nSELECT 1 AS merge_rank"))
    upToFinals +
      """
        |, bt AS (
        |  SELECT d.doc_id, CAST(coalesce(SUM(len(v.toks)), 0) AS BIGINT) AS nb
        |  FROM documents d
        |  LEFT JOIN (SELECT doc_id, word FROM (
        |      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
        |      FROM documents) WHERE word <> '') dw ON dw.doc_id = d.doc_id
        |  LEFT JOIN v8 v ON v.word = dw.word
        |  GROUP BY d.doc_id)
        |SELECT doc.source,
        |  CAST(sum(length(regexp_replace(doc.text, '\s', '', 'g'))) AS BIGINT) AS n_chars,
        |  CAST(sum(bt.nb) AS BIGINT) AS n_bpe_tokens,
        |  CASE WHEN sum(bt.nb) > 0 THEN
        |    CAST((sum(length(regexp_replace(doc.text, '\s', '', 'g'))) * 1000000)
        |      // sum(bt.nb) AS BIGINT) END AS chars_per_token_e6
        |FROM documents doc JOIN bt USING (doc_id)
        |GROUP BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "graph_reach_sql" -> (graphEdgesSqlPrefix + ",\n" +
      """r0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |  UNION ALL
        |  SELECT e.dst AS node, r.d + 1 AS d
        |  FROM r0 r JOIN edges e ON e.src = r.node WHERE r.d < 3)
        |SELECT node, CAST(min(d) AS BIGINT) AS hops FROM r0 GROUP BY node""".stripMargin),
    "text_bpe" -> textBpeSql,
    "text_bpe_tokens" -> textBpeTokensSql,
    "text_compression" -> textCompressionSql,
    "graph_spectral" -> graphSpectralSql,
    "graph_louvain" -> graphLouvainSql,
    "graph_louvain_ml" -> graphLouvainMlSql,
    "graph_leiden" -> graphLeidenSql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_eigen" -> graphEigenSql,
    "graph_ppr" -> graphPprSql,
    "dedup_simhash" ->
      s"WITH ${simhashFpCtes()} SELECT doc_id, simhash FROM fp",
    // duplicated 8-gram spans: the oracle groups the gram STRINGS
    // (chr(1)-joined, mirroring the Spark side's shifted-slice
    // construction hashed with xxhash64 — counts agree absent 64-bit
    // collisions, the minhash family's documented envelope)
    "text_dupspan_score" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], chr(1)) AS gram
        |      FROM d, unnest(range(1, greatest(len(w) - 7, 0) + 1)) t(i)),
        |c AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
        |pd AS (SELECT g.doc_id, count(*) AS n_dup FROM g JOIN c USING (gram)
        |       WHERE c.c > 1 GROUP BY g.doc_id)
        |SELECT d.doc_id, CAST(greatest(len(w) - 7, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup,
        |  round(coalesce(pd.n_dup, 0) / greatest(len(w) - 7, 0), 6) AS dup_frac
        |FROM d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // keep-first rule: rn = 1 in (doc_id, pos) order is exactly the Spark
    // side's min(struct(doc_id, pos)); the coverage test replays each
    // doc's removal starts over its positions
    "text_dupspan_strip" ->
      """WITH d AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], chr(1)) AS gram
        |      FROM d, unnest(range(1, greatest(len(w) - 7, 0) + 1)) t(i)),
        |r AS (SELECT doc_id, pos,
        |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
        |        count(*) OVER (PARTITION BY gram) AS c FROM g),
        |s AS (SELECT doc_id, list(pos) AS starts FROM r
        |      WHERE c > 1 AND rn > 1 GROUP BY doc_id),
        |k AS (SELECT d.doc_id, d.text, d.w, s.starts,
        |  list_filter(list_transform(range(1, len(d.w) + 1),
        |    i -> CASE WHEN len(list_filter(s.starts,
        |                 s0 -> i - 1 >= s0 AND i - 1 < s0 + 8)) = 0
        |         THEN d.w[i] END),
        |    x -> x IS NOT NULL) AS kept
        |  FROM d LEFT JOIN s USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN starts IS NULL THEN text
        |       ELSE coalesce(array_to_string(kept, ' '), '') END AS text_clean,
        |  CAST(CASE WHEN starts IS NULL THEN 0
        |            ELSE len(w) - len(kept) END AS BIGINT) AS n_removed
        |FROM k""".stripMargin,
    // Connected components as a recursive CTE: the all-pairs hamming join is
    // oracle-side only (fine at sf0.01); graft's pigeonhole+cap generates the
    // identical pair set because ≤3 differing bits leave ≥1 of 4 blocks equal.
    // Same exact-dedup pre-pass as the Spark body: components are computed
    // over the corpus with identical texts collapsed to their min doc_id.
    "dedup_components" ->
      s"""WITH RECURSIVE
         |keep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1),
         |docs_kept AS (SELECT d.doc_id, d.text FROM documents d
         |              JOIN keep k ON d.doc_id = k.doc_id),
         |${simhashFpCtes("docs_kept")},
         |pr AS (SELECT a.doc_id AS id1, c.doc_id AS id2 FROM fp a JOIN fp c
         |       ON a.doc_id < c.doc_id AND bit_count(xor(a.simhash, c.simhash)) <= 3),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM pr UNION ALL SELECT id2 AS src, id1 AS dst FROM pr),
         |reach(id, lab) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(17::BIGINT,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 1000000007)),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,
    "text_langid" -> langidSql,
    // generated from TextOps.piiPatterns so both engines share the regexes
    // (DuckDB string literals are not backslash-escaped: '\b' reaches RE2
    // as a word boundary, same bytes the Java regex sees)
    "text_redact" -> {
      val red = graft.ops.TextOps.piiPatterns.foldLeft("text") {
        case (c, (p, tag)) => s"regexp_replace($c, '$p', '$tag', 'g')"
      }
      val n = graft.ops.TextOps.piiPatterns.map { case (p, _) =>
        s"len(regexp_extract_all(text, '$p'))"
      }.mkString(" + ")
      s"SELECT doc_id, $red AS redacted, CAST($n AS BIGINT) AS n_pii FROM documents"
    },
    // same shingle construction as Dedup.shingleStrings: chr(1)-joined
    // 3-gram strings, distinct per doc; docs under 3 tokens emit no rows
    // in BOTH engines (empty range / empty slice)
    "text_contamination" -> contaminationSql,
    // the bloom prefilter is exact-verified, so the twin IS the exact query
    "text_contamination_bloom" -> contaminationSql,
    // bigrams as chr(1)-joined strings (DuckDB's list_distinct cannot take
    // nested lists); tokens are whitespace-split so the separator cannot
    // create boundary ambiguity
    "text_repetition" -> repetitionSql(0.3, 0.2),
    // chunk k covers tokens [k*24+1, k*24+32] 1-based inclusive — Spark's
    // slice(start, length) and DuckDB's list_slice(begin, end) both
    // truncate past the array end, so trailing chunks agree
    "text_chunk" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok FROM documents),
        |m AS (SELECT doc_id, tok,
        |  greatest(CAST(ceil((len(tok) - 8) / 24.0) AS BIGINT), 1) AS nch FROM t),
        |e AS (SELECT doc_id, tok, unnest(range(nch)) AS chunk_id FROM m)
        |SELECT doc_id, chunk_id,
        | array_to_string(list_slice(tok, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk,
        | CAST(least(len(tok) - chunk_id * 24, 32) AS BIGINT) AS n_tok
        |FROM e""".stripMargin,
    "arr_argmin_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |mn AS (SELECT j, min(v) AS min_v FROM m GROUP BY 1)
        |SELECT m.j, min(m.i) AS argmin_i, mn.min_v
        |FROM m JOIN mn ON m.j = mn.j AND m.v = mn.min_v GROUP BY m.j, mn.min_v""".stripMargin,
    "arr_argmax_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT i, max(v) AS max_v FROM m GROUP BY 1)
        |SELECT m.i, min(m.j) AS argmax_j, mx.max_v
        |FROM m JOIN mx ON m.i = mx.i AND m.v = mx.max_v GROUP BY m.i, mx.max_v""".stripMargin,
    "q24_salted_join" ->
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1""".stripMargin,
    "q25_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |t1 AS (SELECT user_id, min(es) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(es) AS t2 FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND es > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(es) AS t3 FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND es > t2 GROUP BY 1)
        |SELECT 1::BIGINT AS stage, count(*) AS n FROM t1
        |UNION ALL SELECT 2::BIGINT, count(*) FROM t2
        |UNION ALL SELECT 3::BIGINT, count(*) FROM t3""".stripMargin,
    "q26_partition_pruning" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1""".stripMargin,
    "q27_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid, count(*) AS n,
        |  round(sum(round(l_extendedprice * 100)::BIGINT)::DOUBLE / 100.0, 2) AS rev
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "q28_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_inactive, round(sum(c_acctbal), 4) AS bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |GROUP BY 1""".stripMargin,
    // identical closed forms over identical exact integer moments: the only
    // floats are final casts of exact decimals, so 6dp rounding is bit-stable
    "q30_except" ->
      """SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1995
        |EXCEPT
        |SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996""".stripMargin,
    "q32_ntile" ->
      """WITH t AS (SELECT c_custkey, c_acctbal,
        |  ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile
        |  FROM customer)
        |SELECT decile, count(*) AS n, round(sum(c_acctbal), 4) AS bal,
        |  round(min(c_acctbal), 2) AS floor_bal
        |FROM t GROUP BY 1""".stripMargin,
    "q31_retention" ->
      """WITH e AS (SELECT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT f.cohort_day, (e.day - f.cohort_day) // 7 AS week_offset,
        |  count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,
    "q33_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |g AS (SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
        |i AS (SELECT user_id, grp, count(*) AS len, min(day) AS start_day
        |      FROM g GROUP BY 1, 2),
        |r AS (SELECT user_id, len, start_day,
        |  row_number() OVER (PARTITION BY user_id ORDER BY len DESC, start_day) AS rk,
        |  count(*) OVER (PARTITION BY user_id) AS n_streaks FROM i)
        |SELECT user_id, CAST(n_streaks AS BIGINT) AS n_streaks,
        |  len AS max_streak, start_day AS streak_start
        |FROM r WHERE rk = 1""".stripMargin,
    "q34_moving_window" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE event_type = 'purchase')
        |SELECT user_id, event_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
        |  count(*) OVER w AS n_7d
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q35_min_cost_supplier" ->
      """WITH c AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS cents,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |u AS (SELECT l_partkey, l_suppkey,
        |    round(CAST(cents AS DOUBLE) / CAST(qty AS DOUBLE), 4) AS unit FROM c),
        |b AS (SELECT l_partkey AS p_key, unit AS unit_cost, l_suppkey AS s_key
        |  FROM (SELECT *, row_number() OVER (PARTITION BY l_partkey
        |          ORDER BY unit, l_suppkey) AS rk FROM u) WHERE rk = 1)
        |SELECT b.p_key, b.s_key, s.s_name, n.n_name AS nation,
        |  b.unit_cost + 0.0 AS unit_cost
        |FROM b JOIN supplier s ON b.s_key = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey""".stripMargin,
    "q37_unpivot" ->
      """WITH w AS (SELECT p_partkey,
        |  CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents,
        |  CAST(p_size AS BIGINT) AS size FROM part)
        |SELECT p_partkey, attr, val FROM w
        |UNPIVOT (val FOR attr IN (retail_cents, size))""".stripMargin,
    "q38_market_share" ->
      """WITH ac AS (SELECT c_custkey FROM customer c
        |    JOIN nation n ON c.c_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |    WHERE r.r_name = 'ASIA'),
        |rev AS (SELECT year(o.o_orderdate) AS o_year, sn.n_name AS supp_nation,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN ac ON o.o_custkey = ac.c_custkey)
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_e4
        |                      ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(rev_e4) AS DOUBLE), 6) AS mkt_share
        |FROM rev GROUP BY 1""".stripMargin,
    "q39_profit" ->
      """SELECT sn.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l.l_discount * 100) AS BIGINT)) -
        |    40 * CAST(round(p.p_retailprice * 100) AS BIGINT) *
        |      CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS profit_e4
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2""".stripMargin,
    "q40_waiting_suppliers" ->
      """WITH l AS (SELECT li.l_orderkey, li.l_suppkey,
        |    li.l_shipdate > o.o_orderdate + INTERVAL 45 DAY AS late
        |  FROM lineitem li
        |  JOIN orders o ON li.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |po AS (SELECT l_orderkey FROM l GROUP BY 1
        |  HAVING count(DISTINCT l_suppkey) >= 2
        |     AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1),
        |w AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM l JOIN po USING (l_orderkey) WHERE l.late)
        |SELECT s.s_name, count(*) AS numwait
        |FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q41_sales_opportunity" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer),
        |t AS (SELECT CAST(sum(bal_cents) AS BIGINT) AS s, count(*) AS n
        |  FROM c WHERE bal_cents > 0)
        |SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        |  count(*) AS n_cust, CAST(sum(c.bal_cents) AS BIGINT) AS total_cents
        |FROM c, t
        |WHERE c.bal_cents * t.n > t.s
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin,
    "q43_window_family" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(first_value(cents) OVER wr AS BIGINT) AS first_cents,
        |  CAST(nth_value(cents, 2) OVER wr AS BIGINT) AS second_cents
        |FROM o WINDOW
        |  w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey),
        |  wr AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "arr_rank_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, CAST(row_number() OVER (PARTITION BY j ORDER BY v, i)
        |  AS BIGINT) AS rk FROM m""".stripMargin,
    "graph_kcore" -> graphKcoreSql,
    "stream_topk" ->
      """WITH c AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS ws,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT ws, event_type, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY ws
        |        ORDER BY n DESC, event_type) AS rk FROM c)
        |WHERE rk <= 3""".stripMargin,
    "q54_share_of_total" ->
      """WITH rev AS (SELECT n.n_regionkey, n.n_name,
        |    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS nation_cents
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  GROUP BY 1, 2),
        |t AS (SELECT *, sum(nation_cents) OVER (PARTITION BY n_regionkey)
        |        AS region_cents FROM rev)
        |SELECT n_regionkey, n_name, nation_cents,
        |  round(CAST(nation_cents AS DOUBLE) / CAST(region_cents AS DOUBLE), 6)
        |    + 0 AS share
        |FROM t""".stripMargin,
    "text_ttr" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(count(DISTINCT token) AS BIGINT) AS n_types,
        |  round(CAST(count(DISTINCT token) AS DOUBLE) / count(*), 6) + 0 AS ttr
        |FROM tok GROUP BY 1""".stripMargin,
    "text_pmi" -> textPmiSql,
    "text_keywords" -> textKeywordsSql,
    "report_kl" -> reportKlSql,
    "dedup_fuzzy" ->
      """WITH r0 AS (SELECT c_custkey AS id, c_name AS k,
        |  substring(c_name, 1, length(c_name) - 2) AS blk FROM customer),
        |r AS (SELECT id, k, blk FROM (SELECT *,
        |  row_number() OVER (PARTITION BY blk ORDER BY id) AS _rk FROM r0)
        |  WHERE _rk <= 256)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
        |FROM r a JOIN r b ON a.blk = b.blk AND a.id < b.id
        |WHERE levenshtein(a.k, b.k) <= 1""".stripMargin,
    "arr_bincount" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT CAST(v AS BIGINT) AS value, count(*) AS n FROM m GROUP BY 1""".stripMargin,
    "arr_rank_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, CAST(row_number() OVER (PARTITION BY i ORDER BY v, j)
        |  AS BIGINT) AS rk FROM m""".stripMargin,
    "zarr_region_update" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, CASE WHEN i < 1024 THEN v + 1000 ELSE v END AS v FROM m""".stripMargin,
    // resize truncates at the same odd split the Scala side computes
    // ((s0 // 2) * 2 + 1 ≡ s0 | 1 for non-negative s0)
    "zarr_resize" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT max(i) + 1 AS n FROM m),
        |sp AS (SELECT GREATEST(1, ((n * 2 // 3) // 2) * 2 + 1) AS s FROM n)
        |SELECT i, j, v FROM m CROSS JOIN sp WHERE i < s AND v <> 0""".stripMargin,
    // append reassembles the full matrix (prefix store + appended block),
    // so the oracle is the roundtrip identity
    "zarr_append" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m WHERE v <> 0""".stripMargin,
    "q53_capped_balance" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CAST(round(value * 100) AS BIGINT) *
        |    (CASE WHEN event_type = 'purchase' THEN -1 ELSE 1 END) AS d
        |  FROM events),
        |p1 AS (SELECT user_id, event_id, ts,
        |  sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM e),
        |p2 AS (SELECT user_id, event_id, p,
        |  min(least(0, p)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
        |  FROM p1)
        |SELECT user_id, event_id, CAST(p - f AS BIGINT) AS balance_cents
        |FROM p2""".stripMargin,
    "sample_quota_quality" ->
      s"""WITH q AS ($qualitySql),
         |r AS (SELECT d.doc_id, d.source AS group_key, q.quality AS score,
         |  row_number() OVER (PARTITION BY d.source
         |    ORDER BY q.quality DESC, d.doc_id) AS rk
         |  FROM documents d JOIN q USING (doc_id))
         |SELECT doc_id, group_key, score + 0 AS score, CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 10""".stripMargin,
    "q52_snapshot_diff" ->
      """WITH a AS (SELECT c_custkey AS key,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        |oc AS (SELECT o_custkey AS key, count(*) AS n FROM orders GROUP BY 1),
        |upd AS (SELECT a.key, a.bal + coalesce(oc.n, 0) * 100 AS bal
        |        FROM a LEFT JOIN oc USING (key) WHERE a.key % 10 <> 0),
        |b AS (SELECT key, bal FROM upd
        |      UNION ALL SELECT key + 100000, bal FROM a WHERE key % 7 = 0)
        |SELECT coalesce(a.key, b.key) AS key,
        |  CASE WHEN a.key IS NULL THEN 'added'
        |       WHEN b.key IS NULL THEN 'removed'
        |       WHEN a.bal = b.bal THEN 'same' ELSE 'changed' END AS status,
        |  coalesce(a.bal, -1) AS bal_old, coalesce(b.bal, -1) AS bal_new
        |FROM a FULL OUTER JOIN b ON a.key = b.key""".stripMargin,
    "stream_upsert" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
        |    event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY es DESC, event_id DESC) AS rk FROM e)
        |SELECT user_id, es AS last_es, event_type AS last_type,
        |  cents AS last_cents
        |FROM r WHERE rk = 1""".stripMargin,
    "q51_disjunctive" ->
      """SELECT p.p_brand,
        |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 35)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
        |       AND l.l_quantity BETWEEN 20 AND 50)
        |GROUP BY 1""".stripMargin,
    "arr_diff_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM (
        |  SELECT i, j, v - lag(v) OVER (PARTITION BY i ORDER BY j) AS v FROM m)
        |WHERE v IS NOT NULL""".stripMargin,
    "emb_matryoshka" ->
      """WITH fullsc AS (SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        | CROSS JOIN range(64) r(i)
        | GROUP BY q.vec_id, e.vec_id),
        |truncsc AS (SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        | CROSS JOIN range(16) r(i)
        | GROUP BY q.vec_id, e.vec_id),
        |ftop AS (SELECT query_id, vec_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM fullsc) WHERE rk <= 10),
        |ttop AS (SELECT query_id, vec_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM truncsc) WHERE rk <= 10)
        |SELECT q.query_id,
        |  CAST(coalesce(o.n, 0) AS BIGINT) AS overlap10
        |FROM (SELECT DISTINCT query_id FROM ftop) q
        |LEFT JOIN (SELECT query_id, count(*) AS n FROM ftop
        |           JOIN ttop USING (query_id, vec_id) GROUP BY 1) o
        |USING (query_id)""".stripMargin,
    // the oracle sweeps ONE global window (gate-scale); the Spark side's
    // two-level day-offset decomposition computes the identical prefix
    // because day = bts // 86400 is monotone in the global (bts, delta)
    // order, and same-(ts,delta) tie groups are same-signed so the
    // per-day MAX is visit-order-independent
    "q50_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |f AS (SELECT user_id, ts, event_id, es,
        |  CASE WHEN es - lag(es) OVER w > 1800 OR lag(es) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, es,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f),
        |sess AS (SELECT user_id, sid, min(es) AS st, max(es) AS en FROM g GROUP BY 1, 2),
        |b AS (SELECT st AS bts, CAST(1 AS BIGINT) AS delta FROM sess
        |      UNION ALL SELECT en + 1, -1 FROM sess),
        |r AS (SELECT bts // 86400 AS day,
        |  sum(delta) OVER (ORDER BY bts, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run FROM b)
        |SELECT day, CAST(max(run) AS BIGINT) AS peak FROM r GROUP BY 1""".stripMargin,
    "q49_sliding_distinct" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        |days AS (SELECT DISTINCT day FROM d),
        |c AS (SELECT user_id, day + o AS obs_day FROM d, unnest(range(0, 7)) u(o))
        |SELECT days.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_7d
        |FROM days JOIN c ON c.obs_day = days.day GROUP BY 1""".stripMargin,
    "q48_scd2" ->
      """WITH e AS (SELECT o_custkey AS custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
        |    o_orderkey AS ok, o_orderpriority AS prio FROM orders),
        |c AS (SELECT custkey, day, ok, prio,
        |    CASE WHEN lag(prio) OVER w IS NULL OR lag(prio) OVER w <> prio
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY custkey ORDER BY day, ok)),
        |r AS (SELECT custkey, day, prio,
        |    sum(chg) OVER (PARTITION BY custkey ORDER BY day, ok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM c),
        |v AS (SELECT custkey, run, min(prio) AS prio, min(day) AS valid_from
        |      FROM r GROUP BY 1, 2)
        |SELECT custkey, CAST(run AS BIGINT) AS version, prio, valid_from,
        |  coalesce(lead(valid_from) OVER (PARTITION BY custkey ORDER BY run),
        |           99999999) AS valid_to_excl
        |FROM v""".stripMargin,
    // dense per-type day grid via a recursive CTE (this DuckDB build has
    // no lateral generate_series); value domain is strictly positive so
    // Spark `div` and DuckDB `//` agree on the interpolation quotient
    "q47_resample" ->
      """WITH RECURSIVE
        |p AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, min(day) AS lo, max(day) AS hi FROM p GROUP BY 1),
        |grid(event_type, day) AS (
        |  SELECT event_type, lo FROM sp
        |  UNION ALL
        |  SELECT g.event_type, g.day + 1 FROM grid g JOIN sp USING (event_type)
        |  WHERE g.day < sp.hi),
        |j AS (SELECT g.event_type, g.day, p.v
        |      FROM grid g LEFT JOIN p USING (event_type, day)),
        |w AS (SELECT event_type, day, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM j WINDOW
        |    wp AS (PARTITION BY event_type ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY event_type ORDER BY day
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  CAST(coalesce(v, (pv * (nd - day) + nv * (day - pd)) // (nd - pd))
        |    AS BIGINT) AS cents,
        |  (v IS NULL) AS filled
        |FROM w""".stripMargin,
    "q45_small_qty_revenue" ->
      """WITH l AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |pp AS (SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sq, count(*) AS n
        |  FROM l GROUP BY 1)
        |SELECT CAST(sum(l.cents) AS BIGINT) AS small_qty_cents,
        |  count(*) AS n_lines
        |FROM l JOIN pp USING (l_partkey)
        |WHERE l.qty * 5 * pp.n < pp.sq""".stripMargin,
    "q44_important_parts" ->
      """WITH v AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS tot FROM v)
        |SELECT v.l_partkey, v.value_cents FROM v, t
        |WHERE v.value_cents * 4000 > t.tot""".stripMargin,
    "q42_order_dist" ->
      """WITH pc AS (SELECT c.c_custkey, count(o.o_custkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS n_custs FROM pc GROUP BY 1""".stripMargin,
    "report_signal_corr" ->
      (s"""WITH q AS ($qualitySql),
        |b AS (SELECT q.doc_id, d.lang,
        |    CAST(round(q.quality * 10000) AS BIGINT) AS x, p.nll_micro AS y
        |  FROM ($textPplSql) p JOIN q ON q.doc_id = p.doc_id
        |  JOIN documents d ON d.doc_id = q.doc_id),
        |m AS (SELECT lang, count(*)::HUGEINT AS n,
        |  sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |  sum(x::HUGEINT * y::HUGEINT) AS sxy,
        |  sum(x::HUGEINT * x::HUGEINT) AS sxx,
        |  sum(y::HUGEINT * y::HUGEINT) AS syy FROM b GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  round((n*sxy - sx*sy)::DOUBLE
        |    / sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) + 0 AS corr_quality_nll
        |FROM m""".stripMargin),
    "q29_exact_stats" ->
      """WITH b AS (SELECT l_returnflag, round(l_quantity * 100)::BIGINT AS x,
        |                  round(l_extendedprice * 100)::BIGINT AS y FROM lineitem),
        |m AS (SELECT l_returnflag, count(*)::HUGEINT AS n,
        |  sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |  sum(x::HUGEINT * y::HUGEINT) AS sxy,
        |  sum(x::HUGEINT * x::HUGEINT) AS sxx,
        |  sum(y::HUGEINT * y::HUGEINT) AS syy FROM b GROUP BY 1)
        |SELECT l_returnflag,
        |  round((n*sxy - sx*sy)::DOUBLE
        |    / sqrt((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) + 0 AS corr_qty_price,
        |  round((n*sxy - sx*sy)::DOUBLE / (n*(n-1))::DOUBLE / 10000.0, 4) + 0 AS covar_qty_price,
        |  round(sqrt((n*sxx - sx*sx)::DOUBLE / (n*(n-1))::DOUBLE) / 100.0, 4) + 0 AS stddev_qty
        |FROM m""".stripMargin,
    "text_vocab" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents)
        |SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM tok GROUP BY 1 HAVING count(*) >= 5""".stripMargin,
    "text_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents)
        |SELECT token, count(*) AS n
        |FROM tok GROUP BY 1 HAVING count(*) >= 50""".stripMargin,
    "text_oov" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents),
        |tc AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
        |voc AS (SELECT token FROM tok GROUP BY 1 HAVING count(*) >= 5)
        |SELECT source,
        | CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_oov,
        | CAST((sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) * 1000000)
        |   // sum(n) AS BIGINT) AS oov_e6
        |FROM tc LEFT JOIN voc v USING (token) GROUP BY 1""".stripMargin,
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
        |SELECT tf.doc_id, tf.token, round(tf * (ln((n + 1) / (df + 1)) + 1.0), 6) AS tfidf
        |FROM tf JOIN df USING (token) CROSS JOIN nd""".stripMargin,
    "emb_quantize" ->
      """WITH c AS (SELECT vec_id, r.i AS dim, CAST(embedding[r.i + 1] AS DOUBLE) AS x
        |           FROM embeddings CROSS JOIN range(64) r(i)),
        |rg AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM c GROUP BY 1)
        |SELECT vec_id, dim, CASE WHEN mx = mn THEN 0::BIGINT
        |  ELSE CAST(least(255.0, floor((x - mn) / (mx - mn) * 256.0)) AS BIGINT) END AS q
        |FROM c JOIN rg USING (dim)""".stripMargin,
    "pipeline_curate" ->
      s"""WITH q AS ($qualitySql), rep AS (${repetitionSql(0.6, 0.2)}), g AS ($langidSql),
         |ke AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |f AS (SELECT d.doc_id, d.source, q.quality
         |      FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
         |                       JOIN g USING (doc_id)
         |      WHERE q.quality >= 0.3 AND rep.keep AND g.pred_lang <> 'und'
         |        AND d.doc_id IN (SELECT doc_id FROM ke))
         |SELECT doc_id, source AS group_key, quality FROM f
         |WHERE ${mixPredicateSql("doc_id", "source")}""".stripMargin,
    // S26 twin: the batch curation SQL minus the keeper semi-join (the
    // dedup leg is the stateful S4/S9 admission family, not this gate)
    "stream_curate" ->
      s"""WITH q AS ($qualitySql), rep AS (${repetitionSql(0.6, 0.2)}), g AS ($langidSql),
         |f AS (SELECT d.doc_id, d.source, q.quality
         |      FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
         |                       JOIN g USING (doc_id)
         |      WHERE q.quality >= 0.3 AND rep.keep AND g.pred_lang <> 'und')
         |SELECT doc_id, source AS group_key, quality FROM f
         |WHERE ${mixPredicateSql("doc_id", "source")}""".stripMargin,
    "pipeline_curate_obs" ->
      s"""WITH q AS ($qualitySql), rep AS (${repetitionSql(0.6, 0.2)}), g AS ($langidSql),
         |ke AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |j AS (SELECT d.doc_id, d.source, q.quality, rep.keep AS rkeep, g.pred_lang,
         |        (d.doc_id IN (SELECT doc_id FROM ke)) AS is_keeper,
         |        (${mixPredicateSql("d.doc_id", "d.source")}) AS mix_keep
         |      FROM documents d JOIN q USING (doc_id) JOIN rep USING (doc_id)
         |                       JOIN g USING (doc_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN quality < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq,
         |  CAST(sum(CASE WHEN NOT rkeep THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |  CAST(sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END) AS BIGINT) AS n_und,
         |  CAST(sum(CASE WHEN NOT mix_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_mix_dropped,
         |  CAST(sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
         |  CAST(sum(CASE WHEN quality >= 0.3 AND rkeep AND pred_lang <> 'und'
         |    AND mix_keep AND is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM j""".stripMargin,
    // sampling twins share one hash construction with Sampling.hashKey:
    // ('0x' || substring(md5(id::VARCHAR), 1, 15))::BIGINT — md5 of the
    // id's decimal string, 60-bit positive prefix, identical in both engines
    "sample_split" ->
      """WITH b AS (SELECT doc_id,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b""".stripMargin,
    "sample_split_stratified" ->
      """WITH b AS (SELECT doc_id, source AS group_key,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS rk
        |  FROM documents),
        |r AS (SELECT doc_id, group_key,
        |    row_number() OVER (PARTITION BY group_key ORDER BY rk, doc_id) AS pos,
        |    count(*) OVER (PARTITION BY group_key) AS n FROM b)
        |SELECT doc_id, group_key,
        |  CASE WHEN pos <= (n * 80) // 100 THEN 'train' ELSE 'val' END AS split
        |FROM r""".stripMargin,
    "pipeline_jsonl_roundtrip" ->
      "SELECT doc_id, source, lang, text FROM documents",
    // prefix-cut budget selection: ONE running-sum window in the oracle;
    // the Spark side's two-level slab sums must land on identical
    // cumulative positions (same order keys, same integer tokens)
    "sample_budget" ->
      s"""WITH q AS ($qualitySql),
         |tq AS (SELECT d.doc_id,
         |    CAST(floor(q.quality * 1000) AS BIGINT) AS band,
         |    CAST(length(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS tokens,
         |    ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS rk
         |  FROM documents d JOIN q USING (doc_id)),
         |w AS (SELECT doc_id, band, tokens,
         |    sum(tokens) OVER (ORDER BY band DESC, rk, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM tq)
         |SELECT doc_id, band, tokens, CAST(cum AS BIGINT) AS cum_tokens
         |FROM w WHERE cum <= 5000""".stripMargin,
    // the batch-verbatim BM25 scores (the stream is stateless and the
    // model is batch-fitted, so the streamed scores ARE the batch scores)
    "stream_bm25" ->
      (s"""WITH tok AS (SELECT doc_id AS id,
        |    unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents),
        |qt AS (SELECT DISTINCT token FROM tok WHERE id = 0 ORDER BY token LIMIT 8),
        |lens AS (SELECT id, count(*) AS len FROM tok GROUP BY 1),
        |nn AS (SELECT count(*) AS n_docs, SUM(len) AS total_len FROM lens),
        |tf AS (SELECT id, token, count(*) AS tf FROM tok JOIN qt USING (token)
        |  GROUP BY 1, 2),
        |dft AS (SELECT token, count(DISTINCT id) AS df FROM tok JOIN qt USING (token)
        |  GROUP BY 1),
        |""".stripMargin +
        graft.functions.LnFix.oracleCtes("lfsb",
          "(SELECT d.token, d.df, n.n_docs FROM dft d CROSS JOIN nn n)",
          Seq("token"), "2 * df + 1", "2 * n_docs + 2", "idf_micro") + ",\n" +
        """kw AS (SELECT t.id AS doc_id, SUM(CAST(
        |    (CAST(f.idf_micro AS HUGEINT) * 44 * n.total_len * t.tf) //
        |    (20 * CAST(n.total_len AS HUGEINT) * t.tf
        |      + 6 * CAST(n.total_len AS HUGEINT)
        |      + 18 * CAST(l.len AS HUGEINT) * n.n_docs) AS BIGINT)) AS s
        |  FROM tf t JOIN lfsbf f USING (token) JOIN lens l USING (id)
        |  CROSS JOIN nn n GROUP BY 1)
        |SELECT doc_id, CAST(s AS BIGINT) AS bm25_micro FROM kw WHERE s > 0""".stripMargin),
    // single global row_number — equivalent to graft's two-stage salted cap
    // (the global per-group top-n survives any per-salt pre-cap of >= n)
    "sample_quota" ->
      """WITH r AS (SELECT doc_id, source AS group_key,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        |  FROM documents),
        |k AS (SELECT doc_id, group_key,
        |  row_number() OVER (PARTITION BY group_key ORDER BY hk, doc_id) AS rk FROM r)
        |SELECT doc_id, group_key, rk FROM k WHERE rk <= 10""".stripMargin,
    "sample_mix" ->
      s"""SELECT doc_id, source AS group_key FROM documents
         |WHERE ${mixPredicateSql("doc_id", "source")}""".stripMargin,
    // DSIR: two hashed-ngram bucket models (curated target vs whole
    // corpus), LnFix micro-nat log-probs, exact-integer importance sums,
    // deterministic top-100 — the Spark plan's arithmetic twin end-to-end
    "sample_dsir" -> sampleDsirSql,
    "stream_dsir" -> streamDsirSql,
    "sample_weighted" ->
      (s"""WITH b AS (SELECT doc_id, least(n_chars, 1000) AS w_x100,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000000 + 1 AS _u
        |  FROM documents WHERE least(n_chars, 1000) > 0),
        |${graft.functions.LnFix.oracleCtes("ws", "b", Seq("doc_id", "w_x100"), "_u", "1000001", "_ln")}
        |SELECT doc_id, CAST(w_x100 AS BIGINT) AS w_x100,
        |  CAST((_ln * 10000) // w_x100 AS BIGINT) AS key
        |FROM wsf ORDER BY key, doc_id LIMIT 100""").stripMargin,
    // the eval face of L31: confusion counts of predicted vs actual
    "text_classify_eval" ->
      (s"""SELECT d.lang AS actual, p.pred, count(*) AS n
        |FROM ($nbClassifySql) p
        |JOIN documents d USING (doc_id) GROUP BY 1, 2""").stripMargin,
    "text_classify_f1" ->
      (s"""WITH conf AS (SELECT d.lang AS actual, p.pred, count(*) AS n
        |  FROM ($nbClassifySql) p
        |  JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |a AS (SELECT actual AS label,
        |    SUM(CASE WHEN pred = actual THEN n ELSE 0 END) AS tp,
        |    SUM(CASE WHEN pred <> actual THEN n ELSE 0 END) AS fn
        |  FROM conf GROUP BY 1),
        |p2 AS (SELECT pred AS label, SUM(n) AS fp FROM conf
        |  WHERE pred <> actual GROUP BY 1)
        |SELECT a.label, CAST(a.tp AS BIGINT) AS tp,
        |  CAST(coalesce(p2.fp, 0) AS BIGINT) AS fp, CAST(a.fn AS BIGINT) AS fn,
        |  round(a.tp / (a.tp + coalesce(p2.fp, 0)), 6) + 0 AS prec,
        |  round(a.tp / (a.tp + a.fn), 6) + 0 AS rec,
        |  round(2 * a.tp / (2 * a.tp + coalesce(p2.fp, 0) + a.fn), 6) + 0 AS f1
        |FROM a LEFT JOIN p2 USING (label)""").stripMargin,
    "report_kappa" ->
      (s"""WITH conf AS (SELECT d.lang AS actual, p.pred, count(*) AS n
        |  FROM ($nbClassifySql) p
        |  JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT SUM(n) AS n_total,
        |    SUM(CASE WHEN pred = actual THEN n ELSE 0 END) AS diag_n FROM conf),
        |pe AS (SELECT SUM(CAST(r.rn AS HUGEINT) * c.cn) AS pe FROM
        |  (SELECT actual AS l, SUM(n) AS rn FROM conf GROUP BY 1) r
        |  JOIN (SELECT pred AS l, SUM(n) AS cn FROM conf GROUP BY 1) c USING (l))
        |SELECT CAST(t.n_total AS BIGINT) AS n_total,
        |  CAST(t.diag_n AS BIGINT) AS diag_n,
        |  round(CAST(CAST(t.n_total AS HUGEINT) * t.diag_n - pe.pe AS DOUBLE) /
        |    nullif(CAST(CAST(t.n_total AS HUGEINT) * t.n_total - pe.pe AS DOUBLE), 0.0), 6)
        |    + 0 AS kappa
        |FROM tot t CROSS JOIN pe""").stripMargin,
    // weights ×100 derive from the source index (src<i> → 100+50·(i%4)),
    // so both engines construct the identical weight table; copies
    // bounded by max w=2.5 → the literal range(10) cross join
    "sample_repeat" ->
      """WITH d AS (SELECT doc_id, source,
        |    100 + 50 * (CAST(substr(source, 4, 10) AS INT) % 4) AS w,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS frac
        |  FROM documents),
        |n AS (SELECT doc_id, source AS group_key,
        |    w // 100 + CASE WHEN frac < w % 100 THEN 1 ELSE 0 END AS n FROM d)
        |SELECT doc_id, group_key, CAST(u.c AS BIGINT) AS copy_idx
        |FROM n CROSS JOIN range(10) u(c) WHERE u.c < n.n""".stripMargin,
    "text_zipf" ->
      """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tok GROUP BY 1)
        |SELECT c, count(*) AS n_tokens FROM c GROUP BY 1""".stripMargin,
    "sample_pack_store" ->
      """WITH t AS (SELECT doc_id, u.p - 1 AS p, w[u.p] AS token FROM (
        |    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |    unnest(range(1, len(w) + 1)) u(p)),
        |vocab AS (SELECT token,
        |    row_number() OVER (ORDER BY count(*) DESC, token) AS tid
        |  FROM t GROUP BY token),
        |n AS (SELECT doc_id, count(*) AS n_tok FROM t GROUP BY doc_id),
        |st AS (SELECT doc_id, coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s FROM n)
        |SELECT CAST((st.s + t.p) // 512 AS BIGINT) AS i,
        |  CAST((st.s + t.p) % 512 AS BIGINT) AS j,
        |  CAST(v.tid AS DOUBLE) AS v
        |FROM t JOIN st USING (doc_id) JOIN vocab v USING (token)""".stripMargin,
    "sample_curriculum" ->
      s"""WITH q AS ($qualitySql),
         |c AS (SELECT quantile_cont(quality, 0.25) AS c25,
         |  quantile_cont(quality, 0.5) AS c50,
         |  quantile_cont(quality, 0.75) AS c75 FROM q)
         |SELECT doc_id, quality,
         |  1 + (CASE WHEN quality < c75 THEN 1 ELSE 0 END)
         |    + (CASE WHEN quality < c50 THEN 1 ELSE 0 END)
         |    + (CASE WHEN quality < c25 THEN 1 ELSE 0 END) AS phase,
         |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS shuffle_key
         |FROM q, c""".stripMargin,
    // α=0.5 temperature rates via sqrt of an exact-integer ratio: both
    // engines compute the identical double, so the 6dp rounding and the
    // hash-keep threshold agree bit-for-bit
    "sample_temperature" ->
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN length(string_split_regex(trim(text), '\s+')) < 40 THEN 'short'
        |       WHEN length(string_split_regex(trim(text), '\s+')) < 80 THEN 'medium'
        |       ELSE 'long' END AS band FROM documents),
        |c AS (SELECT band, count(*) AS n FROM b GROUP BY 1),
        |r AS (SELECT band,
        |  round(sqrt((SELECT min(n) FROM c)::DOUBLE / n::DOUBLE), 6) + 0 AS rate FROM c)
        |SELECT b.doc_id, b.band AS group_key, r.rate
        |FROM b JOIN r ON b.band = r.band
        |WHERE (('0x' || substring(md5(CAST(b.doc_id AS VARCHAR)), 1, 15))::BIGINT
        |       % 10000)::DOUBLE < r.rate * 10000.0""".stripMargin,
    // the id-ordered global window is the single-node equivalent of graft's
    // hierarchical block prefix sum (same totals, same cut points)
    "sample_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS s
        |  FROM t)
        |SELECT doc_id, n_tok, CAST(s // 512 AS BIGINT) AS pack_id,
        |  CAST(s % 512 AS BIGINT) AS pack_offset FROM c""".stripMargin,
    "ann_lsh_topk" -> annLshSql,
    "emb_neardup" -> embNearDupSql,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 4) AS sum_base,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
        | round(avg(l_quantity), 6) AS avg_qty, count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
        |GROUP BY 1, 2""".stripMargin,
    "q2_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity < 10 AND l_discount > 0.05""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_exists_semi" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY 1""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM region, nation, customer, supplier, orders, lineitem
        |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
        |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |GROUP BY 1""".stripMargin,
    "q55_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | CAST(year(l_shipdate) AS BIGINT) AS l_year,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3""".stripMargin,
    "q56_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
        |   AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q57_promo_share" ->
      """WITH t AS (SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
        |    ELSE 0 END) AS BIGINT) AS promo_e4,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
        |    AS BIGINT) AS total_e4
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01')
        |SELECT promo_e4, total_e4,
        |  round(CAST(promo_e4 AS DOUBLE) / CAST(total_e4 AS DOUBLE), 6) + 0 AS promo_share
        |FROM t""".stripMargin,
    "q58_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
        |      AS BIGINT) AS revenue_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, revenue_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE revenue_e4 = (SELECT max(revenue_e4) FROM rev)""".stripMargin,
    "q59_part_supplier_count" ->
      """SELECT p_brand, p_type, p_size,
        | count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,
    "q60_large_orders" ->
      """WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
        |SELECT o_orderkey, o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin,
    "q61_dominant_suppliers" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS supp_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |w AS (SELECT *, sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty FROM ps),
        |dom AS (SELECT l_suppkey, count(*) AS n_parts_dominated FROM w
        |  WHERE supp_qty * 2 > part_qty GROUP BY 1)
        |SELECT s_suppkey, s_name, n_parts_dominated
        |FROM dom JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q65_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS from_type, nxt AS to_type, CAST(count(*) AS BIGINT) AS n
        |FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // S28 emits exactly the batch lead pairs (single finite batch +
    // in-group event-time sort), so the oracle is shared
    "stream_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events)
        |SELECT event_type AS from_type, nxt AS to_type, CAST(count(*) AS BIGINT) AS n
        |FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2""".stripMargin,
    // quantile_cont == Spark's exact interpolated percentile (the
    // curriculum precedent); >= on the cut puts boundary ties in the
    // higher bucket identically in both engines
    "q64_rfm" ->
      """WITH per AS (SELECT o_custkey AS custkey,
        |    CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-08-01') AS BIGINT) AS recency_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |c AS (SELECT
        |    quantile_cont(recency_days, 0.25) AS r25, quantile_cont(recency_days, 0.5) AS r50,
        |    quantile_cont(recency_days, 0.75) AS r75,
        |    quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50,
        |    quantile_cont(frequency, 0.75) AS f75,
        |    quantile_cont(monetary_cents, 0.25) AS m25, quantile_cont(monetary_cents, 0.5) AS m50,
        |    quantile_cont(monetary_cents, 0.75) AS m75
        |  FROM per),
        |sc AS (SELECT custkey, recency_days, frequency, monetary_cents,
        |    CAST(1 + (CASE WHEN recency_days < r25 THEN 1 ELSE 0 END)
        |           + (CASE WHEN recency_days < r50 THEN 1 ELSE 0 END)
        |           + (CASE WHEN recency_days < r75 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
        |    CAST(1 + (CASE WHEN frequency >= f25 THEN 1 ELSE 0 END)
        |           + (CASE WHEN frequency >= f50 THEN 1 ELSE 0 END)
        |           + (CASE WHEN frequency >= f75 THEN 1 ELSE 0 END) AS BIGINT) AS f_score,
        |    CAST(1 + (CASE WHEN monetary_cents >= m25 THEN 1 ELSE 0 END)
        |           + (CASE WHEN monetary_cents >= m50 THEN 1 ELSE 0 END)
        |           + (CASE WHEN monetary_cents >= m75 THEN 1 ELSE 0 END) AS BIGINT) AS m_score
        |  FROM per, c)
        |SELECT custkey, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        |FROM sc""".stripMargin,
    "q63_range_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id,
        | CAST(count(p.p_ts) AS BIGINT) AS n_purchases,
        | CAST(COALESCE(sum(p.cents), 0) AS BIGINT) AS purchase_cents
        |FROM c LEFT JOIN p ON c.user_id = p.user_id
        |  AND p.p_ts >= c.c_ts AND p.p_ts < c.c_ts + INTERVAL 2 HOUR
        |GROUP BY 1, 2""".stripMargin,
    "q62_ship_priority" ->
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q8_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q9_intersect" ->
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders""".stripMargin,
    "q10_window_running" ->
      """SELECT user_id, event_id,
        | row_number() OVER w AS rn,
        | round(coalesce(lag(value) OVER w, 0), 2) AS prev_value,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
    "q11_conditional_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CASE WHEN value > 100 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS big_cents,
        | count(DISTINCT user_id) AS nu
        |FROM events GROUP BY 1""".stripMargin,
    "q12_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 HAVING count(*) >= 15""".stripMargin,
    "q13_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |f AS (SELECT user_id, ts, event_id, es,
        |  CASE WHEN es - lag(es) OVER w > 1800 OR lag(es) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, es,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        | max(es) - min(es) AS dur_secs
        |FROM g GROUP BY 1, 2""".stripMargin,
    "q14_asof_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts > v.ts""".stripMargin,
    "q15_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        | round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q16_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q17_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | coalesce(round(sum(o_totalprice), 4), 0.0) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,
    "q18_json" ->
      """SELECT event_type,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        | count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS n_big
        |FROM events GROUP BY 1""".stripMargin,
    "q19_time_extract" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr, count(*) AS n,
        | count(DISTINCT user_id) AS nu
        |FROM events GROUP BY 1""".stripMargin,

    "arr_log1p" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, round(ln(1 + v), 6) AS v FROM m""".stripMargin,
    "arr_affine" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v * 2.5 + 1.0 AS v FROM m""".stripMargin,
    "arr_center_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, round(v - sum(v) OVER (PARTITION BY j) / count(*) OVER (PARTITION BY j), 6) + 0 AS v FROM m""".stripMargin,
    "arr_add_matrices" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v * 3.0 AS v FROM m""".stripMargin,
    "arr_mask_count" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, count(*) FILTER (WHERE v > 25) AS n_hot FROM m GROUP BY 1""".stripMargin,
    "arr_where" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |b AS (SELECT i, j + 1 AS j, v FROM m),
        |u AS (SELECT COALESCE(a.i, b.i) AS i, COALESCE(a.j, b.j) AS j,
        |        COALESCE(a.v, 0) AS av, COALESCE(b.v, 0) AS bv
        |      FROM m a FULL JOIN b ON a.i = b.i AND a.j = b.j)
        |SELECT i, j, CASE WHEN av > 25 THEN av ELSE bv END AS v FROM u""".stripMargin,
    "arr_agg_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j, sum(v) AS sum_v, count(*) AS n, round(sum(v) / count(*), 6) AS mean_v,
        | round((sum(v * v) - sum(v) * sum(v) / count(*)) / count(*), 6) + 0 AS var_v FROM m GROUP BY 1""".stripMargin,
    "arr_agg_axis1" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, sum(v) AS sum_v, count(*) AS n FROM m GROUP BY 1""".stripMargin,
    "arr_nan_agg" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT j, CASE WHEN v = 25 THEN 'NaN'::DOUBLE ELSE v END AS v FROM m)
        |SELECT j, sum(CASE WHEN isnan(v) THEN 0 ELSE v END) AS nansum,
        | CAST(count(*) FILTER (WHERE NOT isnan(v)) AS BIGINT) AS n_ok,
        | CAST(count(*) FILTER (WHERE isnan(v)) AS BIGINT) AS n_nan,
        | CASE WHEN count(*) FILTER (WHERE NOT isnan(v)) > 0
        |   THEN round(sum(CASE WHEN isnan(v) THEN 0 ELSE v END)
        |     / (count(*) FILTER (WHERE NOT isnan(v))), 6) END AS nanmean
        |FROM n GROUP BY 1""".stripMargin,
    "arr_agg_full" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT sum(v) AS sum_v, count(*) AS n, round(sum(v) / count(*), 6) AS mean_v FROM m""".stripMargin,
    "arr_histogram" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT least(CAST(floor((v - 0.0) / 7.0) AS BIGINT), 7) AS bin, count(*) AS n
        |      FROM m WHERE v >= 0.0 AND v <= 56.0 GROUP BY 1)
        |SELECT r.bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM range(0, 8) r(bin) LEFT JOIN c USING (bin)""".stripMargin,
    "arr_digitize" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, CASE WHEN v < 10.0 THEN 0
        |  ELSE least(4, CAST(floor((v - 10.0) / 10.0) AS BIGINT) + 1) END AS bin
        |FROM m""".stripMargin,
    "arr_bool_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m WHERE i IN (SELECT i FROM m GROUP BY 1 HAVING sum(v) > 200)""".stripMargin,
    "arr_slice" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m WHERE i >= 100 AND i < 300 AND j >= 2 AND j < 5""".stripMargin,
    "arr_fancy_index" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |ri(pos, src) AS (VALUES (0, 7), (1, 3), (2, 11), (3, 3), (4, 42), (5, 999)),
        |ci(pos, src) AS (VALUES (0, 5), (1, 1), (2, 3), (3, 1))
        |SELECT CAST(ri.pos AS BIGINT) AS i, CAST(ci.pos AS BIGINT) AS j, m.v
        |FROM m JOIN ri ON m.i = ri.src JOIN ci ON m.j = ci.src""".stripMargin,
    "arr_astype" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, CAST(v AS INTEGER) AS v FROM m""".stripMargin,
    "arr_transpose" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j AS i, i AS j, v FROM m""".stripMargin,
    "arr_argmax_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |mx AS (SELECT j, max(v) AS max_v FROM m GROUP BY 1)
        |SELECT m.j, min(m.i) AS argmax_i, mx.max_v
        |FROM m JOIN mx ON m.j = mx.j AND m.v = mx.max_v GROUP BY m.j, mx.max_v""".stripMargin,
    "arr_cumsum_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, sum(v) OVER (PARTITION BY i ORDER BY j
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM m""".stripMargin,
    "arr_cumsum_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, sum(v) OVER (PARTITION BY j ORDER BY i
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v FROM m""".stripMargin,
    "arr_clip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, least(greatest(v, 5.0), 30.0) AS v FROM m""".stripMargin,
    "arr_matmul_gram" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT a.j AS i, b.j AS j, sum(a.v * b.v) AS v FROM m a JOIN m b ON a.i = b.i GROUP BY 1, 2""".stripMargin,
    "arr_matmul_bucketed" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT a.i AS i, b.j AS j, sum(a.v * b.v) AS v FROM m a JOIN m b ON a.j = b.i GROUP BY 1, 2""".stripMargin,
    "arr_rechunk" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "arr_matvec" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, round(sum(v * (list_transform(range(1, 9), x -> 1.0/x))[j + 1]), 6) + 0 AS v
        |FROM m GROUP BY 1""".stripMargin,
    "arr_row_normalize" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, round(v / sum(v) OVER (PARTITION BY i), 6) AS v FROM m""".stripMargin,
    "zarr_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_v3_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_blosc_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_zstd_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_rechunk_store" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "arr_downsample" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  CAST(sum(l_quantity) AS BIGINT) AS vi FROM lineitem GROUP BY 1, 2),
        |w AS (SELECT i, j, vi,
        |  sum(vi) OVER (PARTITION BY i) AS s,
        |  (vi * 50) // sum(vi) OVER (PARTITION BY i) AS base,
        |  row_number() OVER (PARTITION BY i ORDER BY
        |    ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT,
        |    j) AS rk FROM m),
        |w2 AS (SELECT i, j, vi, s, base, rk,
        |  sum(base) OVER (PARTITION BY i) AS bsum FROM w)
        |SELECT i, j, CAST(CASE WHEN s <= 50 THEN vi
        |  ELSE base + (CASE WHEN rk <= 50 - bsum THEN 1 ELSE 0 END) END AS DOUBLE) AS v
        |FROM w2
        |WHERE (CASE WHEN s <= 50 THEN vi
        |  ELSE base + (CASE WHEN rk <= 50 - bsum THEN 1 ELSE 0 END) END) <> 0""".stripMargin,
    "zarr_pushdown_read" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |d AS (SELECT max(i) + 1 AS n FROM m),
        |c AS (SELECT n // 4 // 1024 * 1024 AS cut1,
        |  greatest(n // 2 // 1024 * 1024, n // 4 // 1024 * 1024 + 1024) AS cut2 FROM d)
        |SELECT i, j, v FROM m, c WHERE i >= cut1 AND i < cut2 AND v <> 0""".stripMargin,
    "zarr_string_roundtrip" ->
      "SELECT CAST(c_custkey AS BIGINT) AS i, c_name AS s FROM customer",
    "zarr_f2_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_group_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "anndata_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |q AS (SELECT i, sum(v) AS qty, CAST(count(*) AS DOUBLE) AS n_lines
        |  FROM m GROUP BY 1)
        |SELECT q.i AS i, c.c_name AS name, o.o_orderpriority AS priority,
        |  q.qty AS qty, q.n_lines AS n_lines
        |FROM q JOIN orders o ON o.o_orderkey = q.i
        |JOIN customer c ON c.c_custkey = o.o_custkey""".stripMargin,
    "zarr_csr_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_csc_roundtrip" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m""".stripMargin,
    "zarr_cube_roundtrip" ->
      """SELECT CAST(l_orderkey % 32 AS BIGINT) AS i0,
        |  CAST(l_linenumber % 8 AS BIGINT) AS i1,
        |  CAST(l_suppkey % 6 AS BIGINT) AS i2,
        |  CAST(sum(l_quantity) AS DOUBLE) AS v
        |FROM lineitem GROUP BY 1, 2, 3""".stripMargin,
    "arr_cube_reduce" ->
      """SELECT CAST(l_orderkey % 32 AS BIGINT) AS i0,
        |  CAST(l_linenumber % 8 AS BIGINT) AS i1,
        |  CAST(sum(l_quantity) AS DOUBLE) AS v
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "arr_cube_slice" ->
      """WITH c AS (SELECT CAST(l_orderkey % 32 AS BIGINT) AS i0,
        |  CAST(l_linenumber % 8 AS BIGINT) AS i1,
        |  CAST(l_suppkey % 6 AS BIGINT) AS i2,
        |  CAST(sum(l_quantity) AS DOUBLE) AS v
        |FROM lineitem GROUP BY 1, 2, 3)
        |SELECT i0, i1, i2, v FROM c
        |WHERE i0 >= 8 AND i0 < 24 AND i1 >= 2 AND i1 < 7
        |  AND i2 >= 1 AND i2 < 5""".stripMargin,
    "zarr_categorical_roundtrip" ->
      "SELECT doc_id AS i, source AS label FROM documents",
    "zarr_bool_mask" ->
      """SELECT doc_id AS i,
        |  CAST(CASE WHEN length(string_split_regex(trim(text), '\s+')) >= 40
        |       THEN 1.0 ELSE 0.0 END AS DOUBLE) AS v
        |FROM documents""".stripMargin,
    "zarr_datetime_roundtrip" ->
      "SELECT event_id AS i, CAST(epoch_ns(ts) AS BIGINT) AS v FROM events",
    "zarr_vector_roundtrip" ->
      """WITH s AS (SELECT CAST(l_orderkey AS BIGINT) AS i, sum(l_quantity) AS v
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT unnest(generate_series(0,
        |       (SELECT max(l_orderkey) FROM lineitem)))::BIGINT AS i)
        |SELECT r.i, coalesce(s.v, 0.0) AS v
        |FROM r LEFT JOIN s USING (i)""".stripMargin,
    // Z33 reassembles the full vector — roundtrip identity oracle
    "zarr_vector_append" ->
      """WITH s AS (SELECT CAST(l_orderkey AS BIGINT) AS i, sum(l_quantity) AS v
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT unnest(generate_series(0,
        |       (SELECT max(l_orderkey) FROM lineitem)))::BIGINT AS i)
        |SELECT r.i, coalesce(s.v, 0.0) AS v
        |FROM r LEFT JOIN s USING (i)""".stripMargin,

    "arr_bool_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m WHERE j IN (SELECT j FROM m GROUP BY 1 HAVING sum(v) / count(*) > 25)""".stripMargin,
    "arr_concat" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |h AS (SELECT max(i) + 1 AS nr FROM m)
        |SELECT i, j, v FROM m
        |UNION ALL SELECT m.i + h.nr AS i, j, v FROM m CROSS JOIN h""".stripMargin,
    "arr_concat_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, v FROM m
        |UNION ALL SELECT i, j + 8 AS j, v FROM m""".stripMargin,
    "arr_var_axis1" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, round(sum(v) / count(*), 6) AS mean_v,
        | round((sum(v * v) - sum(v) * sum(v) / count(*)) / count(*), 6) + 0 AS var_v
        |FROM m GROUP BY 1""".stripMargin,
    "arr_hvg" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS nrows FROM m),
        |s AS (SELECT j,
        |  round((sum(v * v) - sum(v) * sum(v) / n.nrows) / n.nrows, 6) + 0 AS var_v
        |  FROM m CROSS JOIN n GROUP BY j, n.nrows),
        |k AS (SELECT j FROM s ORDER BY var_v DESC, j LIMIT 3)
        |SELECT i, j, v FROM m WHERE j IN (SELECT j FROM k)""".stripMargin,
    "arr_scale" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |s AS (SELECT i, j, v,
        |  sum(v) OVER w / count(*) OVER w AS mu,
        |  sqrt(greatest((sum(v * v) OVER w - sum(v) OVER w * sum(v) OVER w / count(*) OVER w)
        |       / count(*) OVER w, 0)) AS sd
        |  FROM m WINDOW w AS (PARTITION BY j))
        |SELECT i, j, CASE WHEN sd = 0 THEN 0.0 ELSE round((v - mu) / sd, 6) + 0 END AS v FROM s""".stripMargin,
    "arr_center_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, round(v - sum(v) OVER (PARTITION BY i) / count(*) OVER (PARTITION BY i), 6) + 0 AS v FROM m""".stripMargin,
    "stream_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        | AND p.user_id = v.user_id
        | AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR""".stripMargin,
    "arr_median_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j, round(quantile_cont(v, 0.5), 4) AS v FROM m GROUP BY 1""".stripMargin,
    "arr_quantile_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j, round(quantile_cont(v, 0.25), 4) + 0 AS q25,
        |  round(quantile_cont(v, 0.5), 4) + 0 AS q50,
        |  round(quantile_cont(v, 0.75), 4) + 0 AS q75
        |FROM m GROUP BY 1""".stripMargin,
    "arr_quantile_axis1" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, round(quantile_cont(v, 0.25), 4) + 0 AS q25,
        |  round(quantile_cont(v, 0.5), 4) + 0 AS q50,
        |  round(quantile_cont(v, 0.75), 4) + 0 AS q75
        |FROM m GROUP BY 1""".stripMargin,
    "arr_weighted_mean" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j, round(sum(v * ((i % 3) + 1)) / sum((i % 3) + 1), 6) + 0 AS v
        |FROM m GROUP BY 1""".stripMargin,
    "arr_rolling_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT i, j, round(avg(v) OVER (PARTITION BY i ORDER BY j
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) + 0 AS v
        |FROM m""".stripMargin,
    "q20_above_avg" ->
      """WITH p AS (SELECT *, CAST(round(p_retailprice * 100) AS BIGINT) AS cents FROM part),
        |b AS (SELECT p_brand AS bb, CAST(sum(cents) AS BIGINT) AS sum_cents, count(*) AS bn
        |      FROM p GROUP BY 1)
        |SELECT p_partkey, p_brand, p_retailprice
        |FROM p JOIN b ON p_brand = bb
        |WHERE cents * bn > sum_cents""".stripMargin,
    // R21/R49 sketch gates (r16): the estimates are engine-internal, so
    // the queries emit EXACT values + in-band booleans and the twins
    // assert the booleans literally TRUE — out-of-band drift flips a
    // boolean and fails the hash, sketch internals stay engine-free.
    "q21_approx_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS orders_in_band, TRUE AS parts_in_band
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q46_approx_percentile" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        | TRUE AS p25_in_band, TRUE AS p50_in_band, TRUE AS p75_in_band
        |FROM lineitem GROUP BY 1""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |f AS (SELECT user_id, ts, event_id, es,
        |  CASE WHEN es - lag(es) OVER w > 1800 OR lag(es) OVER w IS NULL THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, es,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f),
        |s AS (SELECT user_id, session_id, count(*) AS n_events,
        |      max(es) - min(es) AS dur_secs FROM g GROUP BY 1, 2)
        |SELECT user_id, session_id, n_events, dur_secs FROM s
        |WHERE session_id < (SELECT max(session_id) FROM s s2 WHERE s2.user_id = s.user_id)""".stripMargin,
    "sample_shuffle" ->
      """SELECT doc_id, CAST(row_number() OVER (
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch0'), doc_id)
        |  AS BIGINT) AS position
        |FROM documents""".stripMargin,
    // matched rows = the inner join; null rows (−1 sentinel) = unmatched
    // purchases whose event time is below the GLOBAL watermark — the min
    // over both sides of (ms-floored max event time − the 65 min delay),
    // exactly Spark's multi-source watermark rule (pinned empirically
    // and by the StreamingSpec equality test)
    "stream_left_join" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts, CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS vid, user_id, ts FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events WHERE event_type = 'purchase'),
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events WHERE event_type = 'view'))
        |  - 3900000000 AS w)
        |SELECT p.pid AS purchase_id, v.vid AS view_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |UNION ALL
        |SELECT p.pid, CAST(-1 AS BIGINT) FROM p, wm
        |WHERE p.us < wm.w AND NOT EXISTS (SELECT 1 FROM v
        |  WHERE v.user_id = p.user_id AND v.ts < p.ts
        |    AND v.ts >= p.ts - INTERVAL 1 HOUR)""".stripMargin,
    // full outer = the left oracle + the symmetric unmatched-view branch;
    // a view's join window closes 1 h after its own event time (every
    // matching purchase satisfies pts <= vts + 1h), so its null row is
    // final once wm passes vts + 1h
    "stream_full_join" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts, CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS vid, user_id, ts, CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events WHERE event_type = 'purchase'),
        |    (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events WHERE event_type = 'view'))
        |  - 3900000000 AS w)
        |SELECT p.pid AS purchase_id, v.vid AS view_id
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        |UNION ALL
        |SELECT p.pid, CAST(-1 AS BIGINT) FROM p, wm
        |WHERE p.us < wm.w AND NOT EXISTS (SELECT 1 FROM v
        |  WHERE v.user_id = p.user_id AND v.ts < p.ts
        |    AND v.ts >= p.ts - INTERVAL 1 HOUR)
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), v.vid FROM v, wm
        |WHERE v.us < wm.w - 3600000000 AND NOT EXISTS (SELECT 1 FROM p
        |  WHERE p.user_id = v.user_id AND v.ts < p.ts
        |    AND v.ts >= p.ts - INTERVAL 1 HOUR)""".stripMargin,
    "stream_export" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_session_window" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |f AS (SELECT user_id, us,
        |  CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
        |       THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT user_id, us,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f),
        |s AS (SELECT user_id, min(us) AS ss_us, max(us) + 1800000000 AS se_us,
        |      count(*) AS n_events FROM g GROUP BY user_id, sid),
        |m AS (SELECT (max(us) // 1000) * 1000 AS wm FROM e)
        |SELECT user_id, ss_us, se_us, n_events FROM s, m WHERE se_us <= wm""".stripMargin,
    "arr_gram_embeddings" ->
      """WITH m AS (SELECT vec_id AS i, r.i AS j, CAST(embedding[r.i + 1] AS DOUBLE) AS v
        |           FROM embeddings CROSS JOIN range(64) r(i))
        |SELECT a.j AS i, b.j AS j, round(sum(a.v * b.v), 4) + 0 AS v
        |FROM m a JOIN m b ON a.i = b.i GROUP BY 1, 2""".stripMargin,
    // identical exact integer moments + ONE shared op order for the
    // standardize/re-anchor chain (see ZMatrix.combat), so 6dp is stable
    "arr_combat" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |lab AS (SELECT CAST(o_orderkey AS BIGINT) AS i, o_orderstatus AS b FROM orders),
        |cb AS (SELECT m.i, m.j, m.v, lab.b FROM m JOIN lab USING (i)),
        |bs AS (SELECT j, b, CAST(count(*) AS DOUBLE) AS nb,
        |  sum(v) AS s1b, sum(v*v) AS s2b FROM cb GROUP BY 1, 2),
        |bs2 AS (SELECT j, b, s1b/nb AS mb,
        |  CASE WHEN nb > 1 THEN sqrt((nb*s2b - s1b*s1b)/(nb*(nb-1)))
        |       ELSE 0.0 END AS sb FROM bs),
        |gs AS (SELECT j, CAST(count(*) AS DOUBLE) AS n,
        |  sum(v) AS s1, sum(v*v) AS s2 FROM cb GROUP BY 1),
        |gs2 AS (SELECT j, s1/n AS gm,
        |  CASE WHEN n > 1 THEN sqrt((n*s2 - s1*s1)/(n*(n-1)))
        |       ELSE 0.0 END AS gs FROM gs)
        |SELECT cb.i, cb.j,
        |  CASE WHEN sb > 0 THEN round((cb.v - mb)/sb*gs + gm, 6)
        |       ELSE round(cb.v, 6) END + 0 AS v
        |FROM cb JOIN bs2 USING (j, b) JOIN gs2 USING (j)""".stripMargin,
    "arr_groupby_rows" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |lab AS (SELECT CAST(o_orderkey AS BIGINT) AS i, o_orderpriority AS g FROM orders),
        |sz AS (SELECT g, count(*) AS n_rows FROM lab GROUP BY 1)
        |SELECT lab.g, m.j, sum(m.v) AS sum_v, sz.n_rows,
        |  round(sum(m.v) / sz.n_rows, 6) + 0 AS mean_v
        |FROM m JOIN lab USING (i) JOIN sz ON sz.g = lab.g
        |GROUP BY lab.g, m.j, sz.n_rows""".stripMargin,
    // identical marginals (exact integer-valued sums) + identical
    // expression order for mu/sigma/clip, so the 6dp round is bit-stable
    "arr_pearson_residuals" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |rs AS (SELECT i, sum(v) AS rs FROM m GROUP BY 1),
        |cs AS (SELECT j, sum(v) AS cs FROM m GROUP BY 1),
        |t AS (SELECT sum(v) AS total FROM m),
        |nn AS (SELECT sqrt(CAST(count(DISTINCT i) AS DOUBLE)) AS clip FROM m),
        |e AS (SELECT m.i, m.j, m.v, rs.rs * cs.cs / t.total AS mu
        |      FROM m JOIN rs USING (i) JOIN cs USING (j) CROSS JOIN t)
        |SELECT i, j, round(least(greatest(
        |  (v - mu) / sqrt(mu + mu * mu / 100.0), -clip), clip), 6) + 0 AS v
        |FROM e CROSS JOIN nn""".stripMargin,
    // the corrCols twin over the ×1e6-scaled pseudobulk profiles,
    // transposed (rows = line dims, cols = group index), dense n = 8
    "arr_group_corr" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |lab AS (SELECT CAST(o_orderkey AS BIGINT) AS i, o_orderpriority AS g FROM orders),
        |sz AS (SELECT g, count(*) AS n_rows FROM lab GROUP BY 1),
        |pb AS (SELECT lab.g, m.j, round(sum(m.v) / sz.n_rows, 6) + 0 AS mean_v
        |       FROM m JOIN lab USING (i) JOIN sz ON sz.g = lab.g
        |       GROUP BY lab.g, m.j, sz.n_rows),
        |prof AS (SELECT CAST(substring(g, 1, 1) AS BIGINT) AS gi, j,
        |         round(mean_v * 1000000.0) AS v FROM pb),
        |nn AS (SELECT CAST(8 AS DOUBLE) AS n),
        |marg AS (SELECT gi, sum(v) AS s, sum(v * v) AS ss FROM prof GROUP BY 1),
        |crs AS (SELECT x.gi AS a, y.gi AS b, sum(x.v * y.v) AS sab
        |        FROM prof x JOIN prof y USING (j) WHERE x.gi < y.gi GROUP BY 1, 2)
        |SELECT ma.gi AS a, mb.gi AS b,
        |  round((coalesce(crs.sab, 0) - ma.s * mb.s / nn.n) /
        |    (sqrt(ma.ss - ma.s * ma.s / nn.n) * sqrt(mb.ss - mb.s * mb.s / nn.n)), 6) + 0 AS corr
        |FROM marg ma CROSS JOIN marg mb CROSS JOIN nn
        |LEFT JOIN crs ON crs.a = ma.gi AND crs.b = mb.gi
        |WHERE ma.gi < mb.gi""".stripMargin,
    "sample_balance" ->
      """WITH c AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS n
        |           FROM embeddings GROUP BY 1),
        |nmin AS (SELECT min(n) AS n FROM c),
        |r AS (SELECT vec_id AS doc_id, CAST(label AS BIGINT) AS group_key,
        |  ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        |  FROM embeddings),
        |k AS (SELECT doc_id, group_key,
        |  row_number() OVER (PARTITION BY group_key ORDER BY hk, doc_id) AS rk FROM r)
        |SELECT doc_id, group_key, rk FROM k CROSS JOIN nmin WHERE rk <= n""".stripMargin,
    "arr_corr_cols" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS n FROM m),
        |marg AS (SELECT j, sum(v) AS s, sum(v * v) AS ss FROM m GROUP BY 1),
        |crs AS (SELECT x.j AS a, y.j AS b, sum(x.v * y.v) AS sab
        |        FROM m x JOIN m y USING (i) WHERE x.j < y.j GROUP BY 1, 2)
        |SELECT ma.j AS a, mb.j AS b,
        |  round((coalesce(crs.sab, 0) - ma.s * mb.s / nn.n) /
        |    (sqrt(ma.ss - ma.s * ma.s / nn.n) * sqrt(mb.ss - mb.s * mb.s / nn.n)), 6) + 0 AS corr
        |FROM marg ma CROSS JOIN marg mb CROSS JOIN nn
        |LEFT JOIN crs ON crs.a = ma.j AND crs.b = mb.j
        |WHERE ma.j < mb.j""".stripMargin,
    "arr_rank_genes" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |rws AS (SELECT CAST(o_orderkey AS BIGINT) AS i,
        |        o_orderpriority = '1-URGENT' AS in_a FROM orders),
        |cols AS (SELECT DISTINCT j FROM m),
        |dense AS (SELECT r.i, c.j, r.in_a, coalesce(m.v, 0) AS v
        |          FROM rws r CROSS JOIN cols c
        |          LEFT JOIN m ON m.i = r.i AND m.j = c.j),
        |rk AS (SELECT j, in_a,
        |         rank() OVER (PARTITION BY j ORDER BY v) AS rmin,
        |         count(*) OVER (PARTITION BY j, v) AS cnt FROM dense),
        |r2 AS (SELECT j, sum(CASE WHEN in_a THEN 2 * rmin + cnt - 1 ELSE 0 END) AS r2a
        |       FROM rk GROUP BY 1),
        |tie AS (SELECT j, sum(cnt * cnt * cnt - cnt) AS tsum
        |        FROM (SELECT j, v, count(*) AS cnt FROM dense GROUP BY 1, 2) GROUP BY 1),
        |mn AS (SELECT j,
        |         sum(CASE WHEN in_a THEN v ELSE 0 END) AS sumA, sum(v) AS sumT,
        |         count(*) FILTER (WHERE in_a AND v <> 0) AS nzA,
        |         count(*) FILTER (WHERE v <> 0) AS nz
        |       FROM dense GROUP BY 1),
        |p AS (SELECT count(*) AS n, count(*) FILTER (WHERE in_a) AS na FROM rws)
        |SELECT r2.j,
        |  round((CAST(r2.r2a AS DOUBLE) / 2.0 - CAST(p.na AS DOUBLE) * (p.n + 1) / 2.0) /
        |    sqrt(CAST(p.na AS DOUBLE) * (p.n - p.na) / 12.0 *
        |      ((p.n + 1) - CAST(tie.tsum AS DOUBLE) / (CAST(p.n AS DOUBLE) * (p.n - 1)))), 6) + 0 AS z,
        |  round(log2((CAST(mn.sumA AS DOUBLE) / p.na + 1e-9) /
        |    (CAST(mn.sumT - mn.sumA AS DOUBLE) / (p.n - p.na) + 1e-9)), 6) + 0 AS lfc,
        |  round(CAST(mn.nzA AS DOUBLE) / p.na, 6) + 0 AS pts,
        |  round(CAST(mn.nz - mn.nzA AS DOUBLE) / (p.n - p.na), 6) + 0 AS pts_rest
        |FROM r2 JOIN tie USING (j) JOIN mn USING (j) CROSS JOIN p""".stripMargin,
    "arr_rank_genes_groups" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |rws AS (SELECT CAST(o_orderkey AS BIGINT) AS i, o_orderpriority AS g FROM orders),
        |cols AS (SELECT DISTINCT j FROM m),
        |dense AS (SELECT r.i, c.j, r.g, coalesce(m.v, 0) AS v
        |          FROM rws r CROSS JOIN cols c
        |          LEFT JOIN m ON m.i = r.i AND m.j = c.j),
        |rk AS (SELECT j, g,
        |         rank() OVER (PARTITION BY j ORDER BY v) AS rmin,
        |         count(*) OVER (PARTITION BY j, v) AS cnt FROM dense),
        |r2 AS (SELECT j, g, sum(2 * rmin + cnt - 1) AS r2a FROM rk GROUP BY 1, 2),
        |tie AS (SELECT j, sum(cnt * cnt * cnt - cnt) AS tsum
        |        FROM (SELECT j, v, count(*) AS cnt FROM dense GROUP BY 1, 2) GROUP BY 1),
        |tot AS (SELECT j, sum(v) AS sumT, count(*) FILTER (WHERE v <> 0) AS nz
        |        FROM dense GROUP BY 1),
        |mn AS (SELECT j, g, sum(v) AS sumG, count(*) FILTER (WHERE v <> 0) AS nzG
        |       FROM dense GROUP BY 1, 2),
        |p AS (SELECT count(*) AS n FROM rws),
        |pg AS (SELECT g, count(*) AS ng FROM rws GROUP BY 1)
        |SELECT r2.g, r2.j,
        |  round((CAST(r2.r2a AS DOUBLE) / 2.0 - CAST(pg.ng AS DOUBLE) * (p.n + 1) / 2.0) /
        |    sqrt(CAST(pg.ng AS DOUBLE) * (p.n - pg.ng) / 12.0 *
        |      ((p.n + 1) - CAST(tie.tsum AS DOUBLE) / (CAST(p.n AS DOUBLE) * (p.n - 1)))), 6) + 0 AS z,
        |  round(log2((CAST(mn.sumG AS DOUBLE) / pg.ng + 1e-9) /
        |    (CAST(tot.sumT - mn.sumG AS DOUBLE) / (p.n - pg.ng) + 1e-9)), 6) + 0 AS lfc,
        |  round(CAST(mn.nzG AS DOUBLE) / pg.ng, 6) + 0 AS pts,
        |  round(CAST(tot.nz - mn.nzG AS DOUBLE) / (p.n - pg.ng), 6) + 0 AS pts_rest
        |FROM r2 JOIN tie USING (j) JOIN tot USING (j) JOIN mn USING (j, g)
        |JOIN pg USING (g) CROSS JOIN p""".stripMargin,
    "q22_sql_surface" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q23_pivot" ->
      """SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1""".stripMargin,
    "arr_minmax_axis0" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2)
        |SELECT j, min(v) AS min_v, max(v) AS max_v FROM m GROUP BY 1""".stripMargin,
    "arr_recipe_scanpy" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |rn AS (SELECT i, j, round(v / sum(v) OVER (PARTITION BY i), 6) AS v FROM m),
        |lg AS (SELECT i, j, ln(1 + v * 10000) AS v FROM rn),
        |st AS (SELECT i, j, v,
        |  sum(v) OVER w / count(*) OVER w AS mu,
        |  sqrt(greatest((sum(v * v) OVER w - sum(v) OVER w * sum(v) OVER w / count(*) OVER w)
        |       / count(*) OVER w, 0)) AS sd
        |  FROM lg WINDOW w AS (PARTITION BY j))
        |SELECT i, j, round((v - mu) / sd, 4) + 0 AS v FROM st""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_cascade" ->
      (s"WITH ${simhashFpCtes()},\n" +
      """e AS (SELECT doc_id, md5(text) AS h1,
        |  CASE WHEN trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) <> ''
        |  THEN md5(trim(regexp_replace(regexp_replace(lower(text),
        |         '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) END AS h2
        |  FROM documents),
        |k1 AS (SELECT h1, min(doc_id) AS kk1 FROM e GROUP BY 1),
        |s1 AS (SELECT e.doc_id, e.h2, e.doc_id <> k1.kk1 AS d1
        |       FROM e JOIN k1 USING (h1)),
        |k2 AS (SELECT h2, min(doc_id) AS kk2 FROM s1
        |       WHERE NOT d1 AND h2 IS NOT NULL GROUP BY 1),
        |s2 AS (SELECT s1.doc_id, s1.d1,
        |  coalesce(NOT s1.d1 AND s1.h2 IS NOT NULL AND s1.doc_id <> k2.kk2,
        |           false) AS d2
        |  FROM s1 LEFT JOIN k2 USING (h2)),
        |s2f AS (SELECT s2.*, fp.simhash FROM s2 LEFT JOIN fp USING (doc_id)),
        |k3 AS (SELECT simhash, min(doc_id) AS kk3 FROM s2f
        |       WHERE NOT d1 AND NOT d2 AND simhash IS NOT NULL GROUP BY 1),
        |s3 AS (SELECT s2f.doc_id, s2f.d1, s2f.d2,
        |  coalesce(NOT s2f.d1 AND NOT s2f.d2 AND s2f.simhash IS NOT NULL
        |    AND s2f.doc_id <> k3.kk3, false) AS d3
        |  FROM s2f LEFT JOIN k3 USING (simhash))
        |SELECT doc_id, NOT (d1 OR d2 OR d3) AS kept,
        |  CASE WHEN d1 THEN 'exact' WHEN d2 THEN 'canonical'
        |       WHEN d3 THEN 'near' ELSE 'kept' END AS reason
        |FROM s3""".stripMargin),
    // all-pairs-free on the Spark side (prefix filter); the oracle CAN
    // afford the shared-shingle pair join at gate scale — identical sets
    "dedup_jaccard_join" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS token
        |       FROM w, unnest(range(1, len(ws) - 1)) u(p)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |       FROM sh a JOIN sh b USING (token)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT pr.id1, pr.id2, CAST(pr.inter AS BIGINT) AS inter,
        |  CAST(s1.sz + s2.sz - pr.inter AS BIGINT) AS uni
        |FROM pr JOIN sz s1 ON s1.doc_id = pr.id1
        |        JOIN sz s2 ON s2.doc_id = pr.id2
        |WHERE pr.inter * 100 >= 50 * (s1.sz + s2.sz - pr.inter)""".stripMargin,
    // the cluster-sized default: the same qualifying-pair relation fed
    // into min-label transitive closure (the dedup_components reach CTE)
    "dedup_jaccard_components" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |      FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS token
        |       FROM w, unnest(range(1, len(ws) - 1)) u(p)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |       FROM sh a JOIN sh b USING (token)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |qp AS (SELECT pr.id1, pr.id2
        |       FROM pr JOIN sz s1 ON s1.doc_id = pr.id1
        |               JOIN sz s2 ON s2.doc_id = pr.id2
        |       WHERE pr.inter * 100 >= 50 * (s1.sz + s2.sz - pr.inter)),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM qp
        |          UNION ALL SELECT id2 AS src, id1 AS dst FROM qp),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY 1""".stripMargin,
    // containment twin: brute-force ordered-pair intersections; the
    // prefix filter is provably lossless, so the sets must match exactly
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS token
        |       FROM w, unnest(range(1, len(ws) - 1)) u(p)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |       FROM sh a JOIN sh b USING (token)
        |       WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT pr.id_a, pr.id_b, CAST(pr.inter AS BIGINT) AS inter,
        |  CAST(sa.sz AS BIGINT) AS sz_a
        |FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
        |WHERE pr.inter * 100 >= 60 * sa.sz""".stripMargin,
    // L69: the full cascade — md5-60-seeded linear minhash (one md5 per
    // shingle, h_s = (a_s·h + b_s) mod 2³¹−1, exact BIGINT both
    // engines), 8×2 banding, capped bucket pairs (rank ≤ 1000 by doc_id
    // = the sorted-prefix cap), exact hash-set containment verify —
    // unrolled stage for stage
    "dedup_containment_cascade" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS token
        |       FROM w, unnest(range(1, len(ws) - 1)) u(p)),
        |sg AS (SELECT doc_id, seed,
        |         min(((1000003 * (seed + 1) % 2147483647) *
        |              (('0x' || substring(md5(token), 1, 15))::BIGINT
        |               % 2147483647)
        |              + (777767777 * seed % 2147483647)) % 2147483647) AS mh
        |       FROM sh, unnest(range(0, 16)) s(seed) GROUP BY 1, 2),
        |bs AS (SELECT doc_id, seed // 2 AS band,
        |         min(CASE WHEN seed % 2 = 0 THEN mh END) AS mh0,
        |         min(CASE WHEN seed % 2 = 1 THEN mh END) AS mh1
        |       FROM sg GROUP BY 1, 2),
        |bk AS (SELECT doc_id, band, mh0, mh1,
        |         row_number() OVER (PARTITION BY band, mh0, mh1
        |                            ORDER BY doc_id) AS rk
        |       FROM bs),
        |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.mh0 = b.mh0
        |           AND a.mh1 = b.mh1 AND a.doc_id < b.doc_id
        |         WHERE a.rk <= 1000 AND b.rk <= 1000),
        |shh AS (SELECT DISTINCT doc_id,
        |          ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |        FROM sh),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1),
        |pr AS (SELECT c.id1, c.id2, count(*) AS inter
        |       FROM cand c JOIN shh a ON a.doc_id = c.id1
        |         JOIN shh b ON b.doc_id = c.id2 AND b.h = a.h
        |       GROUP BY 1, 2),
        |ord AS (SELECT id1 AS id_a, id2 AS id_b, inter FROM pr
        |        UNION ALL SELECT id2 AS id_a, id1 AS id_b, inter FROM pr)
        |SELECT o.id_a, o.id_b, CAST(o.inter AS BIGINT) AS inter,
        |  CAST(sa.sz AS BIGINT) AS sz_a
        |FROM ord o JOIN sz sa ON sa.doc_id = o.id_a
        |WHERE o.inter * 100 >= 60 * sa.sz""".stripMargin,
    // L67: the split key is the cluster REP's md5-60 hash — members of a
    // canonical cluster share it, canonical-empties are singletons
    "sample_split_leakage_safe" ->
      """WITH c AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |      '\s+', ' ', 'g')) AS canon FROM documents),
        |r AS (SELECT md5(canon) AS h, min(doc_id) AS rep
        |      FROM c WHERE canon <> '' GROUP BY 1),
        |j AS (SELECT c.doc_id,
        |    CASE WHEN c.canon <> '' THEN r.rep ELSE c.doc_id END AS cluster_rep
        |  FROM c LEFT JOIN r ON c.canon <> '' AND r.h = md5(c.canon))
        |SELECT doc_id, cluster_rep,
        |  CASE WHEN (('0x' || substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 15))::BIGINT
        |    % 100) < 80 THEN 'train' ELSE 'val' END AS split
        |FROM j""".stripMargin,
    "dedup_savings" ->
      """WITH c AS (SELECT doc_id, source,
        |    length(string_split_regex(trim(text), '\s+')) AS nt,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |      '\s+', ' ', 'g')) AS canon
        |  FROM documents),
        |k AS (SELECT min(doc_id) AS doc_id FROM c WHERE canon <> '' GROUP BY md5(canon))
        |SELECT source, CAST(count(*) AS BIGINT) AS docs_before,
        |  CAST(sum(nt) AS BIGINT) AS tokens_before,
        |  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM k)) AS BIGINT) AS docs_after,
        |  CAST(COALESCE(sum(nt) FILTER (WHERE doc_id IN (SELECT doc_id FROM k)), 0) AS BIGINT) AS tokens_after
        |FROM c GROUP BY 1""".stripMargin,
    // the quality literal rides the shared qualitySql CTE; the keeper
    // argmax is DuckDB's lexicographic struct min, mirroring the Spark
    // min(struct(-q, id)) exactly
    "dedup_keep_best" ->
      (s"""WITH q AS ($qualitySql),
        |c AS (SELECT d.doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9\\s]', '', 'g'),
        |      '\\s+', ' ', 'g'))) AS h,
        |    CAST(round(q.quality * 10000) AS BIGINT) AS qe4
        |  FROM documents d JOIN q USING (doc_id)
        |  WHERE trim(regexp_replace(regexp_replace(lower(d.text), '[^a-z0-9\\s]', '', 'g'),
        |      '\\s+', ' ', 'g')) <> ''),
        |k AS (SELECT h, count(*) AS n_members,
        |    min(struct_pack(nq := -qe4, doc_id := doc_id)) AS top
        |  FROM c GROUP BY 1)
        |SELECT c.doc_id, k.top.doc_id AS keeper,
        |  (c.doc_id <> k.top.doc_id) AS is_dup,
        |  CAST(-k.top.nq AS BIGINT) AS keeper_quality_e4,
        |  CAST(k.n_members AS BIGINT) AS n_members
        |FROM c JOIN k USING (h)""".stripMargin),
    // S27 shares the batch containment oracle (self-pairs excluded in
    // both, per-batch aggregates provably equal the global join)
    "stream_containment" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[p] || ' ' || ws[p+1] || ' ' || ws[p+2] AS token
        |       FROM w, unnest(range(1, len(ws) - 1)) u(p)),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |       FROM sh a JOIN sh b USING (token)
        |       WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT pr.id_a, pr.id_b, CAST(pr.inter AS BIGINT) AS inter,
        |  CAST(sa.sz AS BIGINT) AS sz_a
        |FROM pr JOIN sz sa ON sa.doc_id = pr.id_a
        |WHERE pr.inter * 100 >= 60 * sa.sz""".stripMargin,
    "dedup_report" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |    '\s+', ' ', 'g')) AS canon FROM documents),
        |f AS (SELECT doc_id, md5(canon) AS h FROM c WHERE canon <> ''),
        |k AS (SELECT h, count(*) AS n_members FROM f GROUP BY 1)
        |SELECT CAST(n_members AS BIGINT) AS n_members,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(n_members) AS BIGINT) AS n_docs
        |FROM k GROUP BY 1""".stripMargin,
    "dedup_canonical" ->
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |    '\s+', ' ', 'g')) AS canon FROM documents),
        |f AS (SELECT doc_id, md5(canon) AS h FROM c WHERE canon <> ''),
        |k AS (SELECT h, min(doc_id) AS keeper, count(*) AS n_members
        |      FROM f GROUP BY 1)
        |SELECT f.doc_id, k.keeper, f.doc_id <> k.keeper AS is_dup, k.n_members
        |FROM f JOIN k USING (h)""".stripMargin,
    // closed-form OLS twin: identical moment sums (exact integer-valued
    // doubles) and identical expression order, so b/a/residual are
    // bit-stable across engines before the 6dp round
    "arr_regress_out" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |x AS (SELECT i, sum(v) AS x FROM m GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM x),
        |g AS (SELECT sum(x) AS sx, sum(x * x) AS sxx FROM x),
        |st AS (SELECT j, sum(m.v) AS sy, sum(x.x * m.v) AS sxy
        |       FROM m JOIN x USING (i) GROUP BY 1),
        |fit AS (SELECT j, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b, sy
        |        FROM st CROSS JOIN g CROSS JOIN nn),
        |ab AS (SELECT j, b, (sy - b * sx) / n AS a
        |       FROM fit CROSS JOIN g CROSS JOIN nn)
        |SELECT m.i, m.j, round(m.v - a - b * x.x, 6) + 0 AS v
        |FROM m JOIN x USING (i) JOIN ab USING (j)""".stripMargin,
    // same moments, same adjugate op order, same residual chain — every
    // scalar an exact integer in double, so 6dp is bit-stable (class 2)
    "arr_regress_multi" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT DISTINCT i FROM m),
        |x AS (SELECT o.i, o.x1, o.x2 FROM (SELECT CAST(o_orderkey AS BIGINT) AS i,
        |    CAST(round(o_totalprice / 1000) AS DOUBLE) AS x1,
        |    CAST(year(o_orderdate) - 1995 AS DOUBLE) AS x2 FROM orders) o
        |  JOIN r USING (i)),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS s1, sum(x2) AS s2,
        |  sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22 FROM x),
        |c AS (SELECT n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2)
        |  AS det, n, s1, s2, s11, s12, s22 FROM g),
        |ci AS (SELECT (s11*s22 - s12*s12)/det AS c00, (s2*s12 - s1*s22)/det AS c01,
        |  (s1*s12 - s2*s11)/det AS c02, (n*s22 - s2*s2)/det AS c11,
        |  (s2*s1 - n*s12)/det AS c12, (n*s11 - s1*s1)/det AS c22 FROM c),
        |bt AS (SELECT j, sum(m.v) AS b0, sum(x.x1*m.v) AS b1, sum(x.x2*m.v) AS b2
        |  FROM m JOIN x USING (i) GROUP BY 1),
        |fit AS (SELECT j, c00*b0 + c01*b1 + c02*b2 AS a,
        |  c01*b0 + c11*b1 + c12*b2 AS w1, c02*b0 + c12*b1 + c22*b2 AS w2
        |  FROM bt CROSS JOIN ci)
        |SELECT m.i, m.j, round(m.v - a - w1*x.x1 - w2*x.x2, 6) + 0 AS v
        |FROM m JOIN x USING (i) JOIN fit USING (j)""".stripMargin,
    // binning twin: ranks over the same 6dp-rounded means, same integer
    // bin arithmetic, same literal gene set {1,3}
    "arr_score_genes" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |nn AS (SELECT count(DISTINCT i) AS n FROM m),
        |mu AS (SELECT j, round(sum(v) / n, 6) + 0 AS mu FROM m CROSS JOIN nn GROUP BY j, n),
        |rk AS (SELECT j, row_number() OVER (ORDER BY mu, j) - 1 AS rk,
        |       count(*) OVER () AS ncols FROM mu),
        |bn AS (SELECT j, (rk * 2) // ncols AS bin FROM rk),
        |ctl AS (SELECT j FROM bn
        |        WHERE bin IN (SELECT DISTINCT bin FROM bn WHERE j IN (1, 3))
        |          AND j NOT IN (1, 3)),
        |nc AS (SELECT count(*) AS k FROM ctl)
        |SELECT i, round(coalesce(sum(CASE WHEN j IN (1, 3) THEN v END), 0) / 2 -
        |  coalesce(sum(CASE WHEN j IN (SELECT j FROM ctl) THEN v END), 0) / k, 6) + 0 AS score
        |FROM m CROSS JOIN nc GROUP BY i, k""".stripMargin,
    "ann_classify" ->
      """WITH scored AS (SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  CAST(any_value(e.label) AS BIGINT) AS label,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        | CROSS JOIN range(64) r(i)
        | WHERE e.vec_id >= 8
        | GROUP BY q.vec_id, e.vec_id),
        |nn AS (SELECT query_id, label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) WHERE rk <= 5),
        |votes AS (SELECT query_id, label, count(*) AS votes FROM nn GROUP BY 1, 2)
        |SELECT query_id, label AS pred_label, votes FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rk
        |  FROM votes) WHERE rk = 1""".stripMargin,
    // log-prob snap via graft.functions.LnFix: the SAME fixed-point
    // integer series the Spark plan runs (one generator emits both
    // dialects), so no libm is involved on either side — the r11 red
    // rows were Spark's StrictMath and DuckDB's libm snapping a
    // micro-nat apart on this data
    "text_ppl" -> textPplSql,
    // the streaming admission twin: the SAME rank frame reduced to per-
    // language cut VALUES, then the value rule — what the edge applies
    "stream_ppl_filter" ->
      (s"""WITH p AS ($textPplSql),
         |g AS ($langidSql),
         |d AS (SELECT p.doc_id, g.pred_lang AS lang, p.nll_micro
         |  FROM p JOIN g USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY nll_micro, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS tot FROM d),
         |cuts AS (SELECT lang,
         |  max(CASE WHEN rk * 3 <= tot THEN nll_micro END) AS t1,
         |  max(CASE WHEN rk * 3 <= tot * 2 THEN nll_micro END) AS t2
         |  FROM r GROUP BY lang),
         |b AS (SELECT d.doc_id, d.lang, d.nll_micro,
         |  CASE WHEN d.nll_micro <= c.t1 THEN 'head'
         |       WHEN d.nll_micro <= c.t2 THEN 'middle' ELSE 'tail' END AS bucket
         |  FROM d JOIN cuts c USING (lang))
         |SELECT doc_id, lang, nll_micro, bucket, bucket <> 'tail' AS keep
         |FROM b""").stripMargin,
    // CCNet tercile buckets: the ppl and langid twins composed, one
    // global per-language row_number (= graft's two-level rank)
    "pipeline_ppl_filter" ->
      s"""WITH p AS ($textPplSql),
         |g AS ($langidSql),
         |d AS (SELECT p.doc_id, g.pred_lang AS lang, p.nll_micro
         |  FROM p JOIN g USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY nll_micro, doc_id) AS rk,
         |  count(*) OVER (PARTITION BY lang) AS tot FROM d)
         |SELECT doc_id, lang, nll_micro,
         |  CASE WHEN rk * 3 <= tot THEN 'head'
         |       WHEN rk * 3 <= tot * 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  rk * 3 <= tot * 2 AS keep
         |FROM r""".stripMargin,
    // L28 unigram-LM: the full hard-EM training unrolled in SQL (seed
    // substring counts, LnFix costs, recursive-window Viterbi with the
    // exact tie-break, add-one M-step) -- no literals, pure twin
    "text_unigram" -> textUnigramSql,
    "text_unigram_tokens" -> textUnigramTokensSql,
    // L31 Naive Bayes: three LnFix chains (per-(label,token) cost,
    // per-label unseen fallback, per-label prior), argmin with the
    // (score, label) tie-break mirrored by ORDER BY score, label
    "text_classify" -> nbClassifySql,
    "text_classify_auc" -> textAucSql,
    "text_calibration" -> nbCalibrationSql,
    // S17 scores the SAME model statelessly at the ingest edge and is
    // bit-equal to the batch query — one oracle, two execution shapes
    "stream_classify" -> nbClassifySql,
    "report_drift" ->
      s"""WITH q AS ($qualitySql),
         |d AS (SELECT doc_id, source FROM documents),
         |b AS (SELECT (d.source >= 'src10') AS is_cur,
         |    CAST(least(4, floor(q.quality * 5)) AS INT) AS bin
         |  FROM q JOIN d USING (doc_id)),
         |c AS (SELECT bin,
         |    CAST(sum(CASE WHEN NOT is_cur THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
         |    CAST(sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
         |  FROM b GROUP BY bin),
         |f AS (SELECT CAST(r.x AS INT) AS bin,
         |    coalesce(c.ref_n, 0) AS ref_n, coalesce(c.cur_n, 0) AS cur_n
         |  FROM range(5) r(x) LEFT JOIN c ON c.bin = r.x),
         |t AS (SELECT CAST(sum(ref_n) AS DOUBLE) + 5 AS rt,
         |    CAST(sum(cur_n) AS DOUBLE) + 5 AS ct FROM f)
         |SELECT bin, ref_n, cur_n,
         |  round(((ref_n + 1.0) / rt - (cur_n + 1.0) / ct)
         |    * ln(((ref_n + 1.0) / rt) / ((cur_n + 1.0) / ct)), 6) + 0 AS psi_term
         |FROM f CROSS JOIN t""".stripMargin,
    "text_ppl_bigram" -> textPplBigramSql,
    "text_ppl_interp" ->
      (s"""SELECT u.doc_id,
        |  CAST(CASE WHEN b.nll2_micro IS NULL THEN u.nll_micro
        |       ELSE (7 * b.nll2_micro + 3 * u.nll_micro) // 10 END AS BIGINT)
        |    AS interp_micro
        |FROM ($textPplSql) u
        |LEFT JOIN ($textPplBigramSql) b USING (doc_id)""").stripMargin,
    // dense-grid twin: with a fresh store every grid cell is either a
    // stored value (i < cut) or the fill — written-chunk gaps and absent
    // chunks alike — so the per-column split is fully predictable
    "zarr_fillvalue" ->
      """WITH m AS (SELECT CAST(l_orderkey AS BIGINT) AS i, CAST(l_linenumber AS BIGINT) AS j,
        |  sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
        |dims AS (SELECT max(i) + 1 AS h FROM m),
        |cut AS (SELECT h // 2 // 1024 * 1024 AS cut FROM dims),
        |cols AS (SELECT unnest(range((SELECT max(j) + 1 FROM m))) AS j),
        |st AS (SELECT j, count(*) AS nd, sum(v) AS sv
        |       FROM m CROSS JOIN cut WHERE i < cut GROUP BY 1)
        |SELECT c.j, h - coalesce(nd, 0) AS n_fill, coalesce(nd, 0) AS n_dense,
        |  sv AS sum_v
        |FROM cols c LEFT JOIN st USING (j) CROSS JOIN dims""".stripMargin,
    "ann_cosine_topk" ->
      """SELECT e.vec_id,
        | round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |   / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |      * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        |FROM embeddings e
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |CROSS JOIN range(64) r(i)
        |GROUP BY e.vec_id ORDER BY cos DESC, e.vec_id LIMIT 50""".stripMargin,
    "ann_filtered_topk" ->
      """SELECT e.vec_id,
        | round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |   / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |      * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        |FROM embeddings e
        |JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en'
        |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |CROSS JOIN range(64) r(i)
        |GROUP BY e.vec_id ORDER BY cos DESC, e.vec_id LIMIT 20""".stripMargin,
    // both pools are totally ordered (score desc, id) before the LIMIT,
    // so the 100-row lists — and therefore the integer RRF fusion — are
    // deterministic in both engines
    "ann_hybrid_topk" ->
      """WITH tok AS (SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
        |    FROM documents)),
        |qt AS (SELECT token FROM tok WHERE doc_id = 0 ORDER BY token LIMIT 8),
        |kw AS (SELECT doc_id AS id, count(*) AS s FROM tok JOIN qt USING (token)
        |       GROUP BY 1),
        |kwr AS (SELECT id, row_number() OVER (ORDER BY s DESC, id) AS kw_rank
        |        FROM (SELECT * FROM kw ORDER BY s DESC, id LIMIT 100)),
        |cosd AS (SELECT e.vec_id AS id,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        |  FROM embeddings e
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  CROSS JOIN range(64) r(i) GROUP BY e.vec_id),
        |vr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS vec_rank
        |       FROM (SELECT * FROM cosd ORDER BY cos DESC, id LIMIT 100))
        |SELECT id,
        |  CAST(coalesce(1000000000 // (60 + kw_rank), 0) +
        |       coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf,
        |  CAST(coalesce(kw_rank, 0) AS BIGINT) AS kw_rank,
        |  CAST(coalesce(vec_rank, 0) AS BIGINT) AS vec_rank
        |FROM kwr FULL OUTER JOIN vr USING (id)
        |ORDER BY rrf DESC, id LIMIT 10""".stripMargin,
    // BM25 hybrid: the kw pool re-derived from the same tokenize pass —
    // idf through the shared LnFix CTE chain (bit-equal micro-nats),
    // tf normalization as the identical HUGEINT floor division
    "ann_hybrid_bm25" ->
      (annHybridBm25NoLimitSql + "\nORDER BY rrf DESC, id LIMIT 10"),
    // S25 streaming hybrid admission: the SAME fused table pre-top-k —
    // the stream emits every doc present in either pool, so the shared
    // oracle is the batch SQL minus its final LIMIT
    "stream_hybrid_rrf" -> annHybridBm25NoLimitSql,
    // recall eval: exact and hamming-ball LSH rankings from ONE bucketed
    // frame, overlap counted per query — the index-trust measurement
    "ann_recall_eval" ->
      (s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    ${bucketSqlOf("embedding", annPlanes)} AS qbucket,
         |    sqrt(${dotFold("embedding", "embedding")}) AS qn
         |  FROM embeddings WHERE vec_id < 8),
         |b AS MATERIALIZED (SELECT vec_id, embedding AS be,
         |    ${bucketSqlOf("embedding", annPlanes)} AS bucket,
         |    sqrt(${dotFold("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |exs AS (SELECT q.query_id, b.vec_id,
         |    round(${dotFold("b.be", "q.qe")} / (b.nrm * q.qn), 4) + 0 AS cos
         |  FROM b CROSS JOIN q WHERE b.nrm > 0),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM exs) WHERE rk <= 10),
         |lss AS (SELECT query_id, vec_id FROM (
         |  SELECT e.query_id, e.vec_id, row_number() OVER (PARTITION BY e.query_id
         |    ORDER BY e.cos DESC, e.vec_id) AS rk
         |  FROM (SELECT q.query_id, b.vec_id,
         |      round(${dotFold("b.be", "q.qe")} / (b.nrm * q.qn), 4) + 0 AS cos
         |    FROM b JOIN q ON bit_count(xor(b.bucket::BIGINT, q.qbucket::BIGINT)) <= 2
         |    WHERE b.nrm > 0) e) WHERE rk <= 10),
         |nl AS (SELECT query_id, count(*) AS n_lsh FROM lss GROUP BY 1),
         |ov AS (SELECT ex.query_id, count(*) AS overlap FROM ex
         |  JOIN lss ON lss.query_id = ex.query_id AND lss.vec_id = ex.vec_id
         |  GROUP BY 1)
         |SELECT dq.query_id, coalesce(nl.n_lsh, 0) AS n_lsh,
         |  coalesce(ov.overlap, 0) AS overlap
         |FROM (SELECT DISTINCT query_id FROM ex) dq
         |LEFT JOIN nl USING (query_id) LEFT JOIN ov USING (query_id)""").stripMargin,
    // RBO: the recall-eval rankings with ranks kept; per-match weight by
    // max(rank_exact, rank_lsh) from the SAME literal table the Spark
    // plan uses (1-based list indexing both engines), exact BIGINT sum
    "ann_rbo_eval" ->
      (s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |    ${bucketSqlOf("embedding", annPlanes)} AS qbucket,
         |    sqrt(${dotFold("embedding", "embedding")}) AS qn
         |  FROM embeddings WHERE vec_id < 8),
         |b AS MATERIALIZED (SELECT vec_id, embedding AS be,
         |    ${bucketSqlOf("embedding", annPlanes)} AS bucket,
         |    sqrt(${dotFold("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |ex AS (SELECT query_id, vec_id, rk FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id) AS rk FROM (
         |    SELECT q.query_id, b.vec_id,
         |      round(${dotFold("b.be", "q.qe")} / (b.nrm * q.qn), 4) + 0 AS cos
         |    FROM b CROSS JOIN q WHERE b.nrm > 0)) WHERE rk <= 10),
         |lss AS (SELECT query_id, vec_id, rk FROM (
         |  SELECT e.query_id, e.vec_id, row_number() OVER (PARTITION BY e.query_id
         |    ORDER BY e.cos DESC, e.vec_id) AS rk
         |  FROM (SELECT q.query_id, b.vec_id,
         |      round(${dotFold("b.be", "q.qe")} / (b.nrm * q.qn), 4) + 0 AS cos
         |    FROM b JOIN q ON bit_count(xor(b.bucket::BIGINT, q.qbucket::BIGINT)) <= 2
         |    WHERE b.nrm > 0) e) WHERE rk <= 10),
         |m AS (SELECT ex.query_id,
         |    list_value(${Similarity.rboWeightsE9(10, 0.9).mkString(", ")})[
         |      CAST(greatest(ex.rk, lss.rk) AS INT)] AS w
         |  FROM ex JOIN lss ON lss.query_id = ex.query_id AND lss.vec_id = ex.vec_id),
         |rbo AS (SELECT query_id, SUM(w) AS rbo_e9 FROM m GROUP BY 1)
         |SELECT dq.query_id, CAST(coalesce(rbo.rbo_e9, 0) AS BIGINT) AS rbo_e9
         |FROM (SELECT DISTINCT query_id FROM ex) dq
         |LEFT JOIN rbo USING (query_id)""").stripMargin,
    "ann_batch_topk" ->
      """WITH scored AS (SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
        | CROSS JOIN range(64) r(i)
        | GROUP BY q.vec_id, e.vec_id)
        |SELECT query_id, vec_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) WHERE rk <= 10""".stripMargin,
    // hard negatives: the graph_knn shape with the label-mismatch
    // predicate below the scoring (null-label rows are not admissible;
    // a null ANCHOR label admits every labeled row, mirroring the Scala
    // null-compare semantics)
    "emb_hard_negatives" ->
      """WITH scored AS (SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 8) q
        | CROSS JOIN range(64) r(i)
        | WHERE e.label IS NOT NULL AND (q.label IS NULL OR e.label <> q.label)
        | GROUP BY q.vec_id, e.vec_id)
        |SELECT query_id, vec_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rk
        |  FROM scored) WHERE rk <= 5""".stripMargin,
    "graph_knn" ->
      """WITH scored AS (SELECT q.vec_id AS src, e.vec_id AS dst,
        |  round(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE))
        |    / (sqrt(SUM(CAST(e.embedding[r.i + 1] AS DOUBLE) * CAST(e.embedding[r.i + 1] AS DOUBLE)))
        |       * sqrt(SUM(CAST(q.embedding[r.i + 1] AS DOUBLE) * CAST(q.embedding[r.i + 1] AS DOUBLE)))), 4) + 0 AS cos
        | FROM embeddings e
        | CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64) q
        | CROSS JOIN range(64) r(i)
        | WHERE e.vec_id <> q.vec_id
        | GROUP BY q.vec_id, e.vec_id)
        |SELECT src, dst, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
        |  FROM scored) WHERE rk <= 5""".stripMargin,
    "graph_clusters" -> (graphEdgesSqlPrefix + ",\n" +
      """reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id AS node, min(lab) AS cluster FROM reach GROUP BY 1""".stripMargin),
    "graph_labelprop" -> (graphLpaSqlPrefix + "\n" +
      "SELECT node, label AS cluster FROM lp WHERE it = 10"),
    "graph_modularity" -> (graphLpaSqlPrefix + ",\n" +
      """lab AS (SELECT node, label FROM lp WHERE it = 10),
        |inw AS (SELECT coalesce(sum(mut.w), 0) AS inw FROM mut
        |        JOIN lab a ON a.node = mut.id1 JOIN lab b ON b.node = mut.id2
        |        WHERE a.label = b.label),
        |deg AS (SELECT node, sum(w) AS d FROM (
        |          SELECT id1 AS node, w FROM mut
        |          UNION ALL SELECT id2, w FROM mut) GROUP BY 1),
        |tot AS (SELECT a.label, sum(d.d) AS t FROM deg d JOIN lab a USING (node) GROUP BY 1),
        |t2 AS (SELECT sum(t * t) AS t2 FROM tot),
        |mm AS (SELECT sum(w) AS m FROM mut)
        |SELECT round(CAST(4 * mm.m * inw.inw - t2.t2 AS DOUBLE) /
        |             CAST(4 * mm.m * mm.m AS DOUBLE), 6) + 0 AS q_mod
        |FROM inw CROSS JOIN t2 CROSS JOIN mm""".stripMargin),
    // triangles enumerated once each from the canonical id1<id2 edge
    // form (a<b<c by construction); per-node count = 3-way unnest
    "graph_triangles" -> (graphEdgesSqlPrefix + ",\n" + graphTrianglesBody),
    "graph_jaccard" -> (graphEdgesSqlPrefix + ",\n" + graphJaccardBody),
    "text_stats" ->
      """SELECT doc_id,
        | CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | round(length(regexp_replace(text, '\s', '', 'g'))
        |   / length(string_split_regex(trim(text), '\s+')), 4) AS avg_tok_len,
        | round(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) / length(text), 4) AS punct_ratio
        |FROM documents""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        | CAST(length(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws
        |FROM documents""".stripMargin,
    "text_quality" -> qualitySql,
    // composes the quality and langid twins as nested CTEs — one source of
    // truth for the per-doc formulas; quality summed in exact integer 1e-4s
    "report_sources" ->
      s"""WITH q AS ($qualitySql), g AS ($langidSql),
         |t AS (SELECT doc_id, source,
         |  CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt FROM documents)
         |SELECT t.source AS group_key, count(*) AS n_docs,
         | CAST(sum(t.nt) AS BIGINT) AS n_tokens,
         | CAST(sum(CAST(round(q.quality * 10000) AS BIGINT)) AS BIGINT) AS quality_e4_sum,
         | count(DISTINCT g.pred_lang) AS n_langs
         |FROM t JOIN q USING (doc_id) JOIN g USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        | CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
        | CAST(3 AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    "multimodal_subprocess" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
        | CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
        | CAST(3 AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    "multimodal_real_codec" ->
      """SELECT doc_id, CAST(1 + length(text) % 16 AS INTEGER) AS width,
        | CAST(1 + length(text) % 12 AS INTEGER) AS height,
        | CAST(3 AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    "stream_phash" ->
      """WITH ph AS (SELECT doc_id,
        |    CAST((CAST(((doc_id % 32) + 1) AS HUGEINT) * 2862933555777941757)
        |      % 9223372036854775808 AS BIGINT) | 1 AS phash
        |  FROM documents),
        |inc AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 = 0),
        |res AS (SELECT phash, min(doc_id) AS dup_of FROM ph
        |        WHERE doc_id % 5 <> 0 GROUP BY phash)
        |SELECT inc.doc_id, inc.phash, res.dup_of
        |FROM inc LEFT JOIN res USING (phash)""".stripMargin,
    // the aHash of every rendition equals the bucket's pattern bits
    // (((bucket+1)·C) mod 2^63) | 1 by construction — see asPatternMedia
    "multimodal_phash" ->
      """WITH ph AS (SELECT doc_id,
        |    CAST((CAST(((doc_id % 32) + 1) AS HUGEINT) * 2862933555777941757)
        |      % 9223372036854775808 AS BIGINT) | 1 AS phash,
        |    CAST(8 * (CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 1 + doc_id % 3 END) AS INTEGER) AS width
        |  FROM documents),
        |g AS (SELECT phash, CAST(count(*) AS BIGINT) AS group_n,
        |        min(doc_id) AS keep_id FROM ph GROUP BY phash)
        |SELECT ph.doc_id, ph.phash, ph.width, g.group_n, g.keep_id
        |FROM ph JOIN g USING (phash)""".stripMargin,
    "multimodal_jpeg_codec" ->
      """SELECT doc_id, CAST(1 + length(text) % 13 AS INTEGER) AS width,
        | CAST(1 + length(text) % 9 AS INTEGER) AS height,
        | CAST(3 AS INTEGER) AS channels
        |FROM documents""".stripMargin,
    // the resize kernel's exact integer semantics, reproduced: source
    // pixel R = (id + 31x + 7y) % 255, NN sample (x,y) -> ((x*w)//5,
    // (y*h)//4), summed over the 5x4 output grid
    "multimodal_resize" ->
      """WITH d AS (SELECT doc_id, 1 + length(text) % 16 AS src_w,
        |   1 + length(text) % 12 AS src_h FROM documents),
        |g AS (SELECT x, y FROM (SELECT unnest([0,1,2,3,4]) AS x),
        |   (SELECT unnest([0,1,2,3]) AS y))
        |SELECT doc_id, CAST(src_w AS INTEGER) AS src_w,
        | CAST(src_h AS INTEGER) AS src_h,
        | CAST(5 AS INTEGER) AS out_w, CAST(4 AS INTEGER) AS out_h,
        | CAST(SUM((doc_id + 31 * ((x * src_w) // 5)
        |           + 7 * ((y * src_h) // 4)) % 255) AS BIGINT) AS r_sum
        |FROM d, g GROUP BY doc_id, src_w, src_h""".stripMargin,
    // frame f of doc d is solid palette color (d+f)%4; stride-2 sampling
    // keeps frames 0,2,4 of the 2+len%4 total
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, 2 + length(text) % 4 AS n_frames,
        |   1 + length(text) % 7 AS width, 1 + length(text) % 5 AS height
        |   FROM documents),
        |s AS (SELECT unnest([0,2,4]) AS f)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        | CAST(n_frames AS INTEGER) AS n_frames,
        | CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
        | CAST(list_extract([40,90,160,230],
        |      CAST((doc_id + f) % 4 AS INTEGER) + 1) AS INTEGER) AS r
        |FROM d, s WHERE f < n_frames""".stripMargin,
    // the construction rule IS the oracle: mono PCM16@8k with
    // 100+len%200 frames of ((id·31+t·7) mod 2000) − 1000 — what a real
    // RIFF parser must hand back, bit for bit
    "multimodal_audio" ->
      """WITH d AS (SELECT doc_id, 100 + length(text) % 200 AS n FROM documents),
        |s AS (SELECT doc_id, n, unnest(range(n)) AS t FROM d)
        |SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_frames,
        | 1 AS channels, 8000 AS sample_rate,
        | CAST(sum(abs((doc_id * 31 + t * 7) % 2000 - 1000)) AS BIGINT) AS sum_abs
        |FROM s GROUP BY doc_id""".stripMargin,
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        | CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS hs
        |FROM events""".stripMargin,
    "stream_quota" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
        |r AS (SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY es, event_id) AS rk FROM e)
        |SELECT user_id, event_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin,
    "stream_contamination" ->
      """WITH bench AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 50)
        |SELECT doc_id, (md5(text) IN (SELECT fp FROM bench)) AS contaminated
        |FROM documents""".stripMargin,
    "stream_fuzzy" ->
      """WITH m0 AS (SELECT c_custkey AS id2, c_name AS k2,
        |  substring(c_name, 1, length(c_name) - 2) AS blk
        |  FROM customer WHERE c_custkey % 7 = 0),
        |m AS (SELECT id2, k2, blk FROM (SELECT *,
        |  row_number() OVER (PARTITION BY blk ORDER BY id2) AS _rk FROM m0)
        |  WHERE _rk <= 256),
        |s AS (SELECT c_custkey AS id1, c_name AS k1,
        |  substring(c_name, 1, length(c_name) - 2) AS blk FROM customer),
        |c AS (SELECT s.id1, m.id2,
        |  CAST(levenshtein(s.k1, m.k2) AS BIGINT) AS dist
        |  FROM s JOIN m USING (blk)),
        |r AS (SELECT id1, id2, dist,
        |  row_number() OVER (PARTITION BY id1 ORDER BY dist, id2) AS rk FROM c)
        |SELECT id1, id2, dist FROM r WHERE rk = 1 AND dist <= 1""".stripMargin,
    "stream_drift" ->
      """WITH e AS (SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS ws,
        |    CAST(least(4, greatest(0, floor(value / 25))) AS INT) AS bin FROM events),
        |cur AS (SELECT ws, bin, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |ref AS (SELECT bin, CAST(count(*) AS BIGINT) AS ref_n FROM e GROUP BY 1),
        |rt AS (SELECT CAST(count(*) AS DOUBLE) + 5 AS reftot FROM e),
        |grid AS (SELECT ws, CAST(r.x AS INT) AS bin
        |  FROM (SELECT DISTINCT ws FROM cur) CROSS JOIN range(5) r(x)),
        |f AS (SELECT g.ws, g.bin, coalesce(c.n, 0) AS n, coalesce(rf.ref_n, 0) AS ref_n
        |  FROM grid g LEFT JOIN cur c ON c.ws = g.ws AND c.bin = g.bin
        |    LEFT JOIN ref rf ON rf.bin = g.bin),
        |wt AS (SELECT ws, sum(n) AS wtot FROM f GROUP BY ws)
        |SELECT f.ws, f.bin, f.n,
        |  round(((f.ref_n + 1.0) / rt.reftot - (f.n + 1.0) / (wt.wtot + 5.0))
        |    * ln(((f.ref_n + 1.0) / rt.reftot) / ((f.n + 1.0) / (wt.wtot + 5.0))), 6) + 0
        |    AS psi_term
        |FROM f JOIN wt USING (ws) CROSS JOIN rt""".stripMargin,
    "stream_window_agg" ->
      """SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS ws,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    // dense (hour × event-type) cents grid — the batch twin of the
    // streaming Zarr ingestion's final store (fill cells = 0)
    "stream_zarr_ingest" ->
      """WITH e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS habs,
        |  CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS t,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT habs - (SELECT min(habs) FROM e) AS h, t, cents FROM e),
        |agg AS (SELECT h, t, sum(cents)::DOUBLE AS v FROM b GROUP BY 1, 2),
        |r AS (SELECT unnest(generate_series(0, (SELECT max(h) FROM b)))::BIGINT AS i),
        |c AS (SELECT unnest(generate_series(0, 4))::BIGINT AS j)
        |SELECT r.i, c.j, coalesce(a.v, 0.0) AS v
        |FROM r CROSS JOIN c LEFT JOIN agg a ON a.h = r.i AND a.t = c.j""".stripMargin,
    "stream_tensor_ingest" ->
      """WITH e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS habs,
        |  CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |       WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS t,
        |  ((user_id % 4) + 4) % 4 AS u,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT habs - (SELECT min(habs) FROM e) AS h, t, u, cents FROM e),
        |agg AS (SELECT h, t, u, sum(cents)::DOUBLE AS v FROM b GROUP BY 1, 2, 3),
        |r AS (SELECT unnest(generate_series(0, (SELECT max(h) FROM b)))::BIGINT AS i0),
        |c AS (SELECT unnest(generate_series(0, 4))::BIGINT AS i1),
        |s AS (SELECT unnest(generate_series(0, 3))::BIGINT AS i2)
        |SELECT r.i0, c.i1, s.i2, coalesce(a.v, 0.0) AS v
        |FROM r CROSS JOIN c CROSS JOIN s
        |LEFT JOIN agg a ON a.h = r.i0 AND a.t = c.i1 AND a.u = s.i2""".stripMargin,
  )

  /** The model-literal oracle families. A fitted model (IVF centroids,
    * PQ codebooks, a PCA or whitening model, a realized level count) is
    * not SQL-expressible, but it is a parameter-sized literal: each
    * generator fetches it through the same accessor its query used on
    * the (session, corpus) the query ran on — an in-session hit after the
    * query — and the SQL re-derives everything downstream of it. Keys are
    * known without fitting; the model is fetched when an oracle is
    * built. */
  private[graft] def modelOracleFamilies(s: SparkSession, d: String)
      : Map[String, Map[String, () => String]] = Map(
    "ivf-graph" -> ivfGraphOracles(s, d),
    "pq" -> pqFamilyOracles(s, d),
    "whiten" -> whitenOracles(s, d),
    "pca" -> pcaOracles(s, d),
    "recipe-full-pca" -> recipeFullOracles(s, d),
    "louvain-conv" -> louvainConvOracles(s, d))

  /** The model-literal oracles of the queries `ran` accepts, built on the
    * (session, corpus) those queries ran on. */
  def modelOracleSql(s: SparkSession, d: String, ran: String => Boolean): Map[String, String] =
    modelOracleFamilies(s, d).values.flatten
      .collect { case (name, sql) if ran(name) => name -> sql() }.toMap

  /** graph_louvain_conv's partition and realized level count. */
  private def louvainConverged(s: SparkSession, d: String): (DataFrame, Int) =
    Similarity.louvainConverged(
      Similarity.mutualEdgesWeighted(shardKnnEdges(s, d), "w"), rounds = 4)

  /** Realized level count of the convergence-terminated Louvain — a
    * bit-deterministic pure function of the edge set (see
    * [[Similarity.louvainConverged]]). The query records the count it
    * ran with; `levels` is evaluated only when none is recorded. */
  private def louvainConvLevels(s: SparkSession, d: String)(levels: => Int): Int =
    SessionCache.getOrBuild(s, s"louvainConvLevels:$d", s"$d/embeddings.parquet")(
      Integer.valueOf(levels)).intValue

  /** graph_louvain_conv's generated oracle: the realized level count L
    * enters as the unroll depth — L copies of the SAME level template as
    * graph_louvain/graph_louvain_ml (so the per-level math cannot drift
    * between the twins) chained by the phase-2 contraction CTE, final
    * mapping composed through all L labelings. L = 0 (even level 1
    * failed to beat singletons) degenerates to the identity labeling. */
  private def graphLouvainConvSqlFrom(prefix: String, levels: Int): String =
    if (levels == 0)
      prefix + "\nSELECT DISTINCT src AS node, src AS cluster FROM edges"
    else {
      def eName(l: Int) = if (l == 0) "edges" else s"edges$l"
      val body = (0 until levels).map { l =>
        val lvl = louvainLevelSql(s"l$l", eName(l), 4)
        val contract =
          if (l >= levels - 1) ""
          else ",\n" +
            s"""edges${l + 1} AS MATERIALIZED (SELECT la.label AS src, lb.label AS dst,
               |    CAST(SUM(e.w) AS BIGINT) AS w
               |  FROM ${eName(l)} e JOIN l${l}_4 la ON la.node = e.src
               |    JOIN l${l}_4 lb ON lb.node = e.dst
               |  GROUP BY 1, 2)""".stripMargin
        lvl + contract
      }.mkString(",\n")
      val sel =
        if (levels == 1) "SELECT m0.node, m0.label AS cluster FROM l0_4 m0"
        else {
          val joins = (1 until levels).map { l =>
            s"JOIN l${l}_4 m$l ON m$l.node = m${l - 1}.label"
          }.mkString(" ")
          s"SELECT m0.node, m${levels - 1}.label AS cluster FROM l0_4 m0 $joins"
        }
      prefix + ",\n" + body + "\n" + sel
    }

  private def louvainConvOracles(s: SparkSession, d: String): Map[String, () => String] =
    Map("graph_louvain_conv" -> (() => graphLouvainConvSqlFrom(graphEdgesSqlPrefix,
      louvainConvLevels(s, d)(louvainConverged(s, d)._2))))
}
