package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden-plan regression gate for the heaviest queries: the bench's noise
  * envelope (±2 s per query) is wider than most real plan regressions, so
  * plan SHAPE is the stable signal. Each assert pins the property that
  * makes the query scale — an added Exchange, an extra corpus scan, a lost
  * pushdown, or a lost broadcast fails here long before it would show in
  * the bench. Counts are on the final (post-AQE) executed plan; if a
  * deliberate plan change moves one, update the pin in the same commit. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** FINAL plan section only: AdaptiveSparkPlanExec.toString repeats the
    * pre-AQE plan under "== Initial Plan ==", which double-counts every
    * operator and hides AQE's stage reuse. Counts below are calibrated on
    * the final section (re-measure with the PlanCount calibration main
    * after a deliberate plan change). */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.collect() // finalize AQE so reuse and runtime joins are visible
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def exchanges(plan: String): Int =
    "Exchange (hash|range|single)partitioning".r.findAllIn(plan).length
  private def parquetScans(plan: String): Int =
    "Scan parquet".r.findAllIn(plan).length

  test("q2_filter_pushdown: comparison filters reach the parquet scan") {
    val plan = executedPlan("q2_filter_pushdown")
    assert(plan.contains("PushedFilters: ["), s"no pushdown in:\n$plan")
    assert("PushedFilters: \\[[^\\]]*(GreaterThan|LessThan|EqualTo)".r
      .findFirstIn(plan).isDefined, s"no comparison filter pushed in:\n$plan")
  }

  test("q5_region_revenue: dimension joins stay broadcast") {
    val plan = executedPlan("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 4,
      s"lost dimension broadcasts in:\n$plan")
  }

  test("q61_dominant_suppliers: fact rows cross the wire once (partkey layout reused)") {
    val plan = executedPlan("q61_dominant_suppliers")
    // the partkey repartition feeds the (partkey, suppkey) aggregate AND
    // the per-part window with no further exchange; the only other
    // exchange carries the already-aggregated dominant rows into the
    // suppkey count; the supplier join stays broadcast
    assert(exchanges(plan) <= 2, s"fact re-shuffled in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"supplier join lost broadcast in:\n$plan")
  }

  test("q59_part_supplier_count: exclusion list broadcast-ANTI, no extra fact pass") {
    import org.apache.spark.sql.functions._
    val plan = executedPlan("q59_part_supplier_count")
    val anyBad = Tables.supplier(spark, TestSpark.sf)
      .filter(col("s_acctbal") < 0).limit(1).count() > 0
    if (anyBad)
      assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(plan).isDefined,
        s"NOT-IN exclusion lost its broadcast anti join in:\n$plan")
    else // empty exclusion list: AQE eliminates the anti join entirely —
      // the best possible plan; pin that no join degraded to a shuffle
      assert(!plan.contains("SortMergeJoin"), s"shuffle join appeared in:\n$plan")
    assert(parquetScans(plan) <= 3, s"extra scans in:\n$plan")
  }

  test("dedup_fuzzy: block-capped self-join — exactly one fact shuffle layer") {
    val plan = executedPlan("dedup_fuzzy")
    // one window (the purge cap) + the blk self-join: both sides share
    // the blk hash layout, so the exchange count stays bounded and no
    // cartesian appears
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"fuzzy join degenerated to all-pairs in:\n$plan")
  }

  test("dedup_minhash_pairs: one corpus-scan pipeline + candidate-bounded verify") {
    val plan = executedPlan("dedup_minhash_pairs")
    // ONE live corpus scan in the final plan (the verify stage's reuses
    // come back as AQE stage/exchange reuse, not fresh scans). Before the
    // candidate localCheckpoint the LSH pipeline re-ran once per use of
    // the pairs — 3 live scans and triple the exchanges.
    assert(parquetScans(plan) <= 1, s"extra corpus scan in:\n$plan")
    // r21 (the spill-safe exploded verify): NO per-pair array
    // materialization — the collect_set ObjectHashAggregates are gone;
    // per-pair intersection is an equi-join COUNT over the checkpointed
    // candidate-bounded hash table. The exchange budget covers the narrow
    // candidate-bounded stages that replaced them (distinct pairs, the
    // fan-out spread repartition, the intersection-count aggregate, the
    // per-doc size aggregate) — every row a fixed-width long tuple.
    assert(!plan.contains("ObjectHashAggregate"),
      s"array-set verify reappeared in:\n$plan")
    assert(!plan.contains("collect_set"),
      s"array-set verify reappeared in:\n$plan")
    assert(exchanges(plan) <= 6, s"added exchange in:\n$plan")
  }

  /** The final physical plan of every SQL execution `body` runs — eager
    * `localCheckpoint`s included, which `executedPlan` above cannot see:
    * each execution's last start / AQE-update event, matched to `body` by
    * job group. */
  private def executionPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlanInfo] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val group = s"plan-shape-${System.nanoTime()}"
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          mine.add(s.executionId); plans.put(s.executionId, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if mine.contains(u.executionId) =>
          plans.put(u.executionId, u.sparkPlanInfo)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    plans.values.asScala.toSeq
  }

  /** Every operator a plan computes: a reused exchange's subtree ran in the
    * stage it was first built in, so it is not descended into. */
  private def operators(p: org.apache.spark.sql.execution.SparkPlanInfo)
      : Seq[org.apache.spark.sql.execution.SparkPlanInfo] =
    p +: (if (p.nodeName == "ReusedExchange") Nil else p.children.flatMap(operators))

  test("near-dup verify: every broadcast hash join builds on one long key") {
    ops.Dedup.corpusShingles(spark, TestSpark.sf).collect() // build the durable index first
    // "BroadcastHashJoin [left keys], [right keys], <type>, Build<side>, ..."
    val shape = """BroadcastHashJoin \[(.*)\], \[(.*)\], \w+, Build(Left|Right).*""".r
    for (name <- Seq("dedup_jaccard_join", "dedup_components", "dedup_containment",
                     "dedup_minhash_pairs")) {
      val joins = executionPlans(SparkEntry.queries(name)(spark, TestSpark.sf).collect())
        .flatMap(operators).filter(_.nodeName == "BroadcastHashJoin").map(_.simpleString)
      joins.foreach {
        case shape(left, right, side) =>
          val keys = (if (side == "Left") left else right).split(", ").toSeq
          // a build side keyed on 2+ columns is an UnsafeHashedRelation,
          // which takes a whole 16 MiB page however few rows it holds.
          // Every key of these queries is a BIGINT column, which the plan
          // string marks with an L after its expression id.
          assert(keys.size == 1, s"$name: composite build key in $keys:\n${joins.mkString("\n")}")
          assert(keys.head.matches("""\S+#\d+L"""), s"$name: non-long build key ${keys.head}")
        case other => fail(s"$name: unparsed join $other")
      }
    }
  }

  for (name <- Seq("dedup_jaccard_join", "dedup_containment"))
    test(s"$name: rarest-first prefix windows run once; no aggregate is broadcast") {
      ops.Dedup.corpusShingles(spark, TestSpark.sf).collect() // build the durable index first
      val plans = executionPlans(SparkEntry.queries(name)(spark, TestSpark.sf).collect())
      val computed = plans.flatMap(operators)
      def windows(fn: String) =
        computed.filter(o => o.nodeName == "Window" && o.simpleString.contains(fn))
      // the frequency window and the rank window, each computed exactly
      // once — an unmaterialised prefix self-join ran its sort per side
      val rank = windows("row_number()")
      val freq = windows("count(1) windowspecdefinition(h")
      assert(rank.size == 1, s"rank window computed ${rank.size}×:\n${rank.map(_.simpleString).mkString("\n")}")
      assert(freq.size == 1, s"frequency window computed ${freq.size}×:\n${freq.map(_.simpleString).mkString("\n")}")
      // no frequency or size AGGREGATE is collected and broadcast back into
      // the candidate stage (the executions that rank)
      val ranking = plans.filter(p => operators(p).exists(_.nodeName == "Window"))
      val bcastAggs = ranking.flatMap(operators).filter(_.nodeName == "BroadcastExchange")
        .filter(b => operators(b).exists(_.nodeName.contains("HashAggregate")))
      assert(bcastAggs.isEmpty, "aggregate broadcast in the candidate stage:\n" +
        bcastAggs.flatMap(operators).map(_.simpleString).mkString("\n"))
    }

  test("dedup_simhash (components' edge stage): one exchange, one scan") {
    val plan = executedPlan("dedup_simhash")
    assert(exchanges(plan) <= 1, s"added exchange in:\n$plan")
    assert(parquetScans(plan) <= 1, s"extra corpus scan in:\n$plan")
  }

  test("report_sources: fused projection, no per-signal joins") {
    // quality/langid compose as columns over ONE scan (the 2 exchanges are
    // count_distinct's expand phases, not joins). Pre-fusion this was 3
    // scans plus two doc_id shuffle joins.
    val plan = executedPlan("report_sources")
    assert(parquetScans(plan) <= 1, s"extra corpus scan in:\n$plan")
    assert(exchanges(plan) <= 2, s"added exchange in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"per-signal join reappeared in:\n$plan")
  }

  test("pipeline_curate: fused single-scan curation, one exchange") {
    val plan = executedPlan("pipeline_curate")
    assert(exchanges(plan) <= 1, s"added exchange in:\n$plan")
    assert(parquetScans(plan) <= 2, s"extra corpus scan in:\n$plan")
  }

  test("arr_recipe_scanpy: rowNormalize's i-shuffle is reused, one fused plan") {
    // normalize -> log1p -> scale in one plan: the column-moments branch
    // re-derives the normalized cells, and its row-sum exchange MUST come
    // back as a ReusedExchange. 5 live exchanges = cell aggregate (x2 for
    // the stats branch fork), row sums, column moments' partial/final —
    // a 6th means the fuse or the reuse broke.
    val plan = executedPlan("arr_recipe_scanpy")
    assert(plan.contains("ReusedExchange"), s"lost exchange reuse in:\n$plan")
    assert(exchanges(plan) <= 5, s"added exchange in:\n$plan")
  }

  test("scanpy row ops over a checkpointed input: one explicit i-exchange, no cell broadcast") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.log1p
    import graft.array.ZMatrix
    // perfbench's shape: the chain reads checkpointed cells, which carry
    // no partitioning of their own
    val x = ZMatrix(ZMatrix.fromLineitem(spark, TestSpark.sf).cells.localCheckpoint())
    val df = x.filterRowsBySum(_ >= 20.0).filterColsByMean(_ > 1.0).rowNormalize
      .mapValues(c => log1p(c * 10000)).cells
    df.collect()
    val root = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    // every operator the plan computes: a reused exchange ran where it was built
    def computed(p: SparkPlan): Seq[SparkPlan] =
      p +: (if (p.isInstanceOf[ReusedExchangeExec]) Nil else kids(p).flatMap(computed))
    // the exchange a stage (or a reuse of one) reads
    def exchangeOf(p: SparkPlan): Option[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Some(e)
      case _: QueryStageExec | _: ReusedExchangeExec => kids(p).headOption.flatMap(exchangeOf)
      case _ => None
    }
    def onI(p: SparkPlan): Boolean = exchangeOf(p).exists(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name } == Seq("i")
      case _ => false
    })
    val ops = computed(root)
    val plan = root.treeString
    val iEx = ops.collect { case e: ShuffleExchangeExec if onI(e) => e }
    assert(iEx.size == 1, s"expected one i-exchange, got ${iEx.size} in:\n$plan")
    assert(iEx.head.shuffleOrigin == REPARTITION_BY_NUM, s"i-exchange is not an explicit count in:\n$plan")
    // the column-stats branch reads the same exchange back
    assert(ops.exists(p => p.isInstanceOf[ReusedExchangeExec] && onI(p)),
      s"column-stats branch does not reuse the i-exchange in:\n$plan")
    val iReads = ops.collect { case r: AQEShuffleReadExec if onI(r.child) => r }
    assert(iReads.forall(!_.hasCoalescedPartition), s"i-exchange coalesced in:\n$plan")
    // nothing below a broadcast reaches the cell scan without an aggregate
    assert(ops.exists(_.isInstanceOf[RDDScanExec]), s"fixture: no checkpointed cell scan in:\n$plan")
    def reachesCells(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _: RDDScanExec => true
      case _ => kids(p).exists(reachesCells)
    }
    val cellBroadcasts = ops.collect { case b: BroadcastExchangeExec if reachesCells(b.child) => b }
    assert(cellBroadcasts.isEmpty, s"the cell table is broadcast in:\n$plan")
    val width = df.queryExecution.executedPlan.execute().getNumPartitions
    assert(width >= spark.sparkContext.defaultParallelism, s"result runs on $width partitions:\n$plan")
  }

  test("zarr_pushdown_read: the i-range prunes to exactly the covered chunk bands") {
    import org.apache.spark.sql.functions.col
    // run the query (writes the store), then re-read with the same filter
    // and count scan partitions: rows 2048..4095 at chunkRows=1024 = 2
    // chunk bands — any more means pushdown stopped pruning
    SparkEntry.queries("zarr_pushdown_read")(spark, TestSpark.sf).collect()
    val sfName = TestSpark.sf.replaceAll("[^A-Za-z0-9]", "_")
    val path = s"${graft.GraftPaths.tmpRoot}/zarrpd_$sfName"
    val rows = graft.zarr.Zarr.readMeta(path).rows
    val (cut1, cut2) = SparkEntry.pushdownCuts(rows)
    val expected = ((cut2 - cut1) / 1024).toInt
    val pruned = spark.read.format("zarr").load(path)
      .filter(col("i") >= cut1 && col("i") < cut2)
    assert(pruned.rdd.getNumPartitions == expected && expected >= 1,
      s"expected $expected pruned chunk partitions, got ${pruned.rdd.getNumPartitions}")
  }

  test("ann_ivfpq_pruned: equals the in-memory form; scan opens ONLY probed list dirs") {
    val mem = SparkEntry.queries("ann_ivfpq_topk")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val df = SparkEntry.queries("ann_ivfpq_pruned")(spark, TestSpark.sf)
    val pruned = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pruned == mem, s"partitioned-store ADC diverged:\n$pruned\nvs\n$mem")
    // inputFiles lists the whole FileIndex (same caveat as q26), so prove
    // pruning behaviorally: the plan's partition filter names the probed
    // lists; corrupt a parquet file in an UNPROBED list's directory and
    // the query must still succeed — touching it would throw a footer
    // error
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*list_id[^\\]]*IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan)
    assert(pf.isDefined, s"no list_id IN partition filter in:\n$plan")
    val probed = pf.get.group(1).split(",").map(_.trim.toInt).toSet
    assert(probed.size <= 4, s"probe set too wide: $probed")
    val unprobed = (0 until 16).find(!probed.contains(_)).get
    val sfName = TestSpark.sf.replaceAll("[^A-Za-z0-9]", "_")
    val victimDir = new java.io.File(s"${GraftPaths.tmpRoot}/ivfpq_codes_$sfName/list_id=$unprobed")
    val victims = victimDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(victims.nonEmpty, s"fixture: no parquet in $victimDir")
    val saved = victims.map(f => f -> java.nio.file.Files.readAllBytes(f.toPath))
    try {
      victims.foreach(f => java.nio.file.Files.write(f.toPath,
        "this is not a parquet file".getBytes("UTF-8")))
      val again = SparkEntry.queries("ann_ivfpq_pruned")(spark, TestSpark.sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(again == mem, "pruned query changed after corrupting an unprobed list")
    } finally saved.foreach { case (f, b) => java.nio.file.Files.write(f.toPath, b) }
  }

  test("q26_partition_pruning: the year predicate prunes partition directories") {
    val plan = executedPlan("q26_partition_pruning")
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(plan).isDefined,
      s"no o_year partition filter in:\n$plan")
    // behavioral proof (inputFiles can't show pruning — it lists the whole
    // FileIndex): a partitioned table whose OTHER partition holds a
    // deliberately corrupt parquet file. The filtered read succeeds only
    // if the o_year=1997 predicate pruned that directory at planning —
    // touching it would throw a footer error.
    import org.apache.spark.sql.functions.{col, lit, sum}
    import spark.implicits._
    val p = "/root/repo/target/tmp/plan_part_corrupt"
    graft.zarr.Zarr.delete(p, recursive = true)
    graft.ops.Ingest.writePartitioned(
      Seq((1L, 1996), (2L, 1996), (3L, 1997), (4L, 1997))
        .toDF("o_orderkey", "o_year"), p, "o_year")
    val dir1996 = new java.io.File(p, "o_year=1996")
    val victims = dir1996.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(victims.nonEmpty, "fixture: no parquet file in o_year=1996")
    victims.foreach(f => java.nio.file.Files.write(f.toPath,
      "this is not a parquet file".getBytes("UTF-8")))
    // explicit schema: otherwise schema INFERENCE reads every footer at
    // analysis time and would trip on the corrupt file before pruning
    val schema = "o_orderkey LONG, o_year INT"
    val got = spark.read.schema(schema).parquet(p).filter(col("o_year") === 1997)
      .agg(sum(col("o_orderkey"))).collect().head.getLong(0)
    assert(got == 7L)
    // and the corruption is real: an unfiltered read must fail
    intercept[Throwable] {
      spark.read.schema(schema).parquet(p).agg(sum(col("o_orderkey"))).collect()
    }
  }

  test("arr_matmul_bucketed: no shuffle below the output (i,j) aggregate") {
    // both sides load from contraction-key bucketed storage, so the join
    // is co-located: the ONLY hash exchange allowed in the product plan is
    // the final output aggregate. A second one means the bucket layout
    // stopped lining up with the join keys.
    val plan = executedPlan("arr_matmul_bucketed")
    assert(exchanges(plan) <= 1, s"join shuffle reappeared above bucketed scans in:\n$plan")
  }

  test("text_contamination_bloom: ONE corpus scan, bench side checkpointed") {
    // the docs shingle pipeline must enter the plan exactly once (the
    // bloom verdict is a scan-side filter, not a second pass) and the
    // bench side must ride the localCheckpoint (an RDD scan), not re-run
    // its own parquet explode pipeline
    val plan = executedPlan("text_contamination_bloom")
    assert(parquetScans(plan) == 1, s"corpus re-scan appeared in:\n$plan")
    assert(plan.contains("ExistingRDD"), s"bench checkpoint missing from:\n$plan")
  }

  test("arr_concat: the union itself adds no exchange over its inputs") {
    // each union branch is the lineitem cell aggregate (one hash exchange
    // each — AQE may or may not reuse the stage); the CONCATENATION must
    // contribute zero: more than the two input aggregates means vstack
    // started shuffling what downstream operators would repartition anyway
    val plan = executedPlan("arr_concat")
    assert(exchanges(plan) <= 2, s"union grew its own shuffle in:\n$plan")
    assert(plan.contains("Union"), s"no union in:\n$plan")
  }

  test("arr_pca: projection rides the checkpoint — zero parquet scans") {
    // the matrix is localCheckpointed ONCE before fit; transform (the
    // query's returned plan) projects off that RDD. A parquet scan here
    // means the checkpoint was dropped and the whole lineitem aggregation
    // lineage re-runs per pass — the r8-verdict 4×-evaluation regression.
    val plan = executedPlan("arr_pca")
    assert(parquetScans(plan) == 0, s"lineage re-evaluation reappeared in:\n$plan")
    assert(plan.contains("ExistingRDD"), s"checkpoint missing from:\n$plan")
  }

  test("arr_corr_cols: all three consumers ride ONE cell materialization") {
    // marginals + both self-join sides read the localCheckpoint — a
    // parquet scan means a consumer fell back to replaying the lineitem
    // aggregation lineage (the 10.5→5.6 s sf1 regression shape)
    val plan = executedPlan("arr_corr_cols")
    assert(parquetScans(plan) == 0, s"lineage re-evaluation reappeared in:\n$plan")
    assert(plan.contains("ExistingRDD"), s"checkpoint missing from:\n$plan")
  }

  test("text_dupspan_strip: SpanStrip kernel in-plan, no interpreted lambda") {
    // the two-pointer kernel must appear in the executed plan instead of
    // the O(tokens × removals) exists()-inside-filter() lambda pair
    val plan = executedPlan("text_dupspan_strip")
    assert(plan.contains("spanstrip") || plan.contains("SpanStrip"),
      s"SpanStrip kernel missing from:\n$plan")
    assert(!plan.contains("ArrayExists"), s"interpreted exists() lambda back in:\n$plan")
  }

  test("sample_dsir: kernel-scored scan — no gram explode/join below the top-k") {
    // the scoring side must be ONE DsirScore scan + the broadcast keep
    // join; a Generate (gram explode) or SortMergeJoin in the plan means
    // the join-form scoring crept back
    val plan = executedPlan("sample_dsir")
    assert(plan.contains("dsirscore") || plan.contains("DsirScore"),
      s"DsirScore kernel missing from:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"shuffle join in the scoring path:\n$plan")
    assert(!plan.contains("Generate"), s"gram explode in the scoring path:\n$plan")
  }

  test("sort-clustered layout: row-group zone maps skip most of the scan") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val spark = TestSpark.spark
    val orders = Tables.orders(spark, TestSpark.sf)
    val total = orders.count()
    // threshold selecting the top ~5% by totalprice
    val thr = orders.stat.approxQuantile("o_totalprice", Array(0.95), 0.01)(0)

    def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves) ++
          other.subqueries.flatMap(leaves)
      }
      leaves(df.queryExecution.executedPlan)
        .map(_.metrics("numOutputRows").value).sum
    }

    // sorted layout: 4 range files × ~16 KB row groups → tight zone maps
    val sortedPath = "target/tmp/zonemap_sorted"
    graft.ops.Ingest.writeSorted(orders, sortedPath, "o_totalprice",
      blockBytes = 16L << 10, files = 4)
    val sortedScan = scanOutputRows(
      spark.read.parquet(sortedPath).filter(col("o_totalprice") > thr))

    // control: same data, same block size, no clustering — stats overlap,
    // nothing skips
    val unsortedPath = "target/tmp/zonemap_unsorted"
    orders.repartition(4).write.mode("overwrite")
      .option("parquet.block.size", 16L << 10).parquet(unsortedPath)
    val unsortedScan = scanOutputRows(
      spark.read.parquet(unsortedPath).filter(col("o_totalprice") > thr))

    // same answer either way
    assert(spark.read.parquet(sortedPath).filter(col("o_totalprice") > thr).count() ==
      spark.read.parquet(unsortedPath).filter(col("o_totalprice") > thr).count())
    // the sorted layout's scan must emit far fewer rows than the control
    // (row groups whose max < thr never decode); control reads ~everything
    assert(sortedScan < total / 2,
      s"zone maps did not skip: scanned $sortedScan of $total")
    assert(sortedScan * 3 < unsortedScan,
      s"sorted scan $sortedScan not ≪ unsorted scan $unsortedScan")
  }

  test("sample_split_stratified: stratum rank is two-level, never one fact-scale sort") {
    // the r15 scale-killer: a row_number window partitioned by stratum
    // alone ranks EVERY row of a stratum in one task — under real corpus
    // skew (one crawl source = 80% of rows) that is a single-task sort of
    // most of the fact table. The fix slabs on the hash's top byte, so
    // every row_number spec must partition by (group_key, _b), never
    // group_key alone. (The offset sum-windows run over the strata×256
    // slab AGGREGATE — dimension-sized, not pinned here.)
    val plan = executedPlan("sample_split_stratified")
    val specs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no row_number window in:\n$plan")
    specs.foreach { s =>
      val partPrefix = s.replaceAll(" (ASC|DESC).*$", "")
      assert(partPrefix.contains("_b#"),
        s"row_number ranks a whole stratum in one task (no slab column): ($s)\n$plan")
    }
  }

  test("sample_budget: running token sum is two-level, never one global sort") {
    // the L55 lesson applied to SUMS: a cumulative-token window ordered
    // globally would sort the whole corpus in one task. The fix is the
    // same slab scheme — every sum window over the FACT rows must
    // partition by (band, _b); the global offset window runs over the
    // bands×256 slab aggregate only (dimension-sized).
    val plan = executedPlan("sample_budget")
    val specs = "sum\\(tokens[^)]*\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"no running token-sum window in:\n$plan")
    specs.foreach { s =>
      val partPrefix = s.replaceAll(" (ASC|DESC).*$", "")
      assert(partPrefix.contains("_b#"),
        s"running sum spans a whole band in one task (no slab column): ($s)\n$plan")
    }
  }

  test("text_pmi: unigram vocab table never hint-broadcast (open vocabulary)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
    val df = SparkEntry.queries("text_pmi")(spark, TestSpark.sf)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    // the two unigram joins + the two corpus-total cross joins must be in
    // the plan; of those, ONLY the 1-row nu/nb aggregates may carry a
    // broadcast hint — the unigram count table is open-vocabulary
    // (10^8-10^9 tokens on web text) and a forced broadcast is an OOM at
    // the design point. AQE may still broadcast at runtime when the table
    // is actually small; the pin is on the HINT, not the runtime choice.
    assert(joins.size >= 4, s"expected >=4 joins, got ${joins.size}")
    val hintedSides = joins
      .flatMap(j => Seq(j.hint.leftHint, j.hint.rightHint).flatten)
      .count(_.strategy.contains(BROADCAST))
    assert(hintedSides <= 2,
      s"$hintedSides broadcast-hinted join sides (only the 1-row nu/nb " +
        s"totals are allowed):\n${df.queryExecution.optimizedPlan}")
  }

  test("shingle-family queries scan the DURABLE index, never re-shingle the corpus") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // warm the artifact (builds + persists on first-ever use)
    ops.Dedup.corpusShingles(spark, TestSpark.sf).queryExecution.executedPlan
    def scanRoots(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves) ++
          other.subqueries.flatMap(leaves)
      }
      leaves(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.map(_.toString)
      }.flatten
    }
    // the durable-hit pin, asserted at its source: the shared index frame
    // IS a scan of the durable model store (a cache miss would rebuild
    // from documents.parquet + a Generate explode)
    val idxRoots = scanRoots(ops.Dedup.corpusShingles(spark, TestSpark.sf))
    assert(idxRoots.nonEmpty, "expected a file scan under the shingle index")
    assert(idxRoots.forall(_.contains("graft_models")),
      s"index not served from the durable store: $idxRoots")
    // the consumer query may carry NO file scans at all since r20 — its
    // verify inputs are eagerly localCheckpoint'ed (built from the same
    // index frame above) — but any scan that DOES remain must be the
    // durable store, never a corpus re-read
    val q = SparkEntry.queries("dedup_containment")(spark, TestSpark.sf)
    val roots = scanRoots(q)
    assert(roots.forall(_.contains("graft_models")),
      s"non-durable scans in the plan: ${roots.filterNot(_.contains("graft_models"))}")
  }
}
