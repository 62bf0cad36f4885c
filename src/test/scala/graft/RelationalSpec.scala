package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.ops.Relational

/** Correctness spot-checks on sf0.001 plus PLAN AUDITS: the scan must
  * receive pushed filters, dimension joins must broadcast — the properties
  * that keep these shapes viable at 100 TB. */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q7 top-k matches driver-side sort") {
    val got = Relational.q7TopkOrders(spark, sf).collect().map(_.getLong(0)).toSeq
    val exp = Tables.orders(spark, sf).collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Double]("o_totalprice")))
      .sortBy { case (k, p) => (-p, k) }.take(10).map(_._1).toSeq
    assert(got == exp)
  }

  test("q7 plan uses TakeOrderedAndProject (no full sort shuffle)") {
    assert(planOf(Relational.q7TopkOrders(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("q2 filters are pushed to the parquet scan") {
    val plan = planOf(Relational.q2FilterPushdown(spark, sf))
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("EqualTo(l_returnflag,R)"))
  }

  test("q2 scan prunes columns (ReadSchema subset)") {
    val plan = planOf(Relational.q2FilterPushdown(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"))
  }

  test("q3 and q5 broadcast the dimension side") {
    assert(planOf(Relational.q3ShippingPriority(spark, sf)).contains("BroadcastHashJoin"))
    val p5 = planOf(Relational.q5RegionRevenue(spark, sf))
    assert(p5.contains("BroadcastHashJoin"))
  }

  test("q9 intersect equals set intersection") {
    val got = Relational.q9Intersect(spark, sf).collect().map(_.getLong(0)).toSet
    val c = Tables.customer(spark, sf).select("c_custkey").collect().map(_.getLong(0)).toSet
    val o = Tables.orders(spark, sf).select("o_custkey").collect().map(_.getLong(0)).toSet
    assert(got == c.intersect(o))
  }

  test("q13 sessionization: session count equals gap count + users") {
    val sess = Relational.q13Sessionize(spark, sf)
    val nSessions = sess.count()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(nSessions >= nUsers)
    val totalEvents = sess.agg(sum("n_events")).head().getLong(0)
    assert(totalEvents == Tables.events(spark, sf).count())
  }

  test("q14 as-of join: every purchase appears exactly once") {
    val asof = Relational.q14AsofJoin(spark, sf)
    val nPurch = Tables.events(spark, sf).filter(col("event_type") === "purchase").count()
    assert(asof.count() == nPurch)
    assert(asof.select("purchase_id").distinct().count() == nPurch)
  }

  test("q16 rollup includes subtotal and grand-total rows") {
    val r = Relational.q16Rollup(spark, sf).collect()
    val grand = r.filter(x => x.isNullAt(0) && x.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n") == Tables.lineitem(spark, sf).count())
    assert(r.exists(x => !x.isNullAt(0) && x.isNullAt(1))) // per-flag subtotal
  }

  test("q17 left join keeps customers with zero orders") {
    val r = Relational.q17LeftJoin(spark, sf)
    assert(r.count() == Tables.customer(spark, sf).count())
    assert(r.filter(col("n_orders") === 0 && col("total_spend") === 0.0).count() >= 0)
  }

  test("q18 json extraction sums the k field") {
    val r = Relational.q18Json(spark, sf)
    assert(r.count() == 5) // one row per event_type
    assert(r.agg(sum("sum_k")).head().getLong(0) > 0)
  }

  test("q21 approx distinct: exact counts surfaced, sketches inside the gate band") {
    // r16 provable-gate shape: output = exact counts + in-band booleans
    val rows = Relational.q21ApproxDistinct(spark, sf).collect()
    assert(rows.length == 3)
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"),
        countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      val (eo, ep) = exact(r.getString(0))
      assert(r.getLong(1) == eo && r.getLong(2) == ep,
        s"exact columns wrong: $r vs ($eo, $ep)")
      assert(r.getBoolean(3) && r.getBoolean(4),
        s"HLL estimate left the 5*rsd band: $r")
    }
  }

  test("q21 NULL semantics equal count_distinct: NULL keys uncounted, NULL flag group kept") {
    import spark.implicits._
    // planted NULLs (the r17 ADVICE item): a NULL-flag group, NULL keys
    // inside a live group, and one group whose partkeys are ALL NULL
    val dir = s"${GraftPaths.tmpRoot}/q21_nulls"
    Seq[(Option[String], Option[Long], Option[Long])](
      (Some("A"), Some(1L), Some(10L)), (Some("A"), Some(1L), None),
      (Some("A"), Some(2L), Some(11L)), (Some("A"), None, Some(10L)),
      (None, Some(3L), Some(12L)), (None, Some(4L), None),
      (Some("Z"), Some(5L), None), (Some("Z"), Some(6L), None))
      .toDF("l_returnflag", "l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Relational.q21ApproxDistinct(spark, dir).collect()
      .map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    val want = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"),
        countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == want.keySet, s"group sets differ: $got vs $want")
    got.foreach { case (k, (eo, ep, bo, bp)) =>
      assert((eo, ep) == want(k), s"counts for $k: ($eo,$ep) vs ${want(k)}")
      assert(bo && bp, s"in-band booleans for $k")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    // the model-literal families, built on this corpus whether or not an
    // earlier suite ran their queries in this JVM
    val families = SparkEntry.modelOracleFamilies(spark, TestSpark.sf)
    assert(families.keySet ==
      Set("ivf-graph", "pq", "whiten", "pca", "recipe-full-pca", "louvain-conv"))
    families.foreach { case (family, oracles) =>
      assert(oracles.nonEmpty, family)
      val orphans = oracles.keySet -- SparkEntry.queries.keySet
      assert(orphans.isEmpty, s"$family oracle without query: $orphans")
      assert((oracles.keySet & SparkEntry.oracleSql.keySet).isEmpty, family)
    }
    val built = SparkEntry.modelOracleSql(spark, TestSpark.sf, _ => true)
    assert(built.keySet == families.values.flatMap(_.keySet).toSet)
    built.foreach { case (q, sql) => assert(sql.contains("SELECT"), q) }
  }

  test("funnel counts users per strictly-ordered stage") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    // u1 completes the funnel; u2 clicks before viewing (stage 1 only);
    // u3 views+clicks but never purchases; u4 only purchases (stage 0)
    val ev = Seq(
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      (2L, "click", ts(5)), (2L, "view", ts(10)),
      (3L, "view", ts(1)), (3L, "click", ts(2)),
      (4L, "purchase", ts(9))
    ).toDF("user_id", "event_type", "ts")
    ev.createOrReplaceTempView("_funnel_ev")
    val e = ev.select(col("user_id"), col("event_type"),
      unix_timestamp(col("ts")).as("es"))
    val t1 = e.filter(col("event_type") === "view").groupBy("user_id").agg(min("es").as("t1"))
    val t2 = e.filter(col("event_type") === "click").join(t1, Seq("user_id"))
      .filter(col("es") > col("t1")).groupBy("user_id").agg(min("es").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("es") > col("t2")).groupBy("user_id").agg(min("es").as("t3"))
    assert(t1.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(t2.collect().map(_.getLong(0)).toSet == Set(1L, 3L)) // u2's click precedes its view
    assert(t3.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("salted join equals plain join and splits the hot key across salts") {
    import spark.implicits._
    // 90% of fact rows share key 1 (the skew), dim has 3 keys
    val fact = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => (2L + i % 2, i.toLong))).toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val salted = Relational.saltedJoin(fact, dim, "k", salts = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(salted == plain)
    // the hot key's fact rows scatter across all 8 salt buckets
    val saltDist = fact.filter($"k" === 1L)
      .withColumn("_salt", pmod(xxhash64(fact.columns.map(col): _*), lit(8L)).cast("int"))
      .groupBy("_salt").count().collect()
    assert(saltDist.length == 8)
    assert(saltDist.map(_.getLong(1)).max < 900L / 2) // no bucket hoards the key
    // hybrid: threshold 500 salts ONLY key 1 (900 rows); result still equals plain
    val hybrid = Relational.skewJoin(fact, dim, "k", salts = 8, hotThreshold = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(hybrid == plain)
    // threshold above every frequency -> pure plain join path, still equal
    val noHot = Relational.skewJoin(fact, dim, "k", salts = 8, hotThreshold = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(noHot == plain)
  }

  test("q27 grouping sets: levels are internally consistent, one Expand scan") {
    val rows = Relational.q27GroupingSets(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid"))
    // gid 0 = (flag, status); gid 1 = (flag); gid 3 = grand total
    assert(byGid.keySet == Set(0L, 1L, 3L))
    assert(byGid(3L).length == 1)
    val total = byGid(3L).head.getAs[Long]("n")
    assert(byGid(0L).map(_.getAs[Long]("n")).sum == total)
    assert(byGid(1L).map(_.getAs[Long]("n")).sum == total)
    // per-flag level sums its detail rows exactly (integer-cents revenue)
    byGid(1L).foreach { fr =>
      val flag = fr.getAs[String]("l_returnflag")
      val detail = byGid(0L).filter(_.getAs[String]("l_returnflag") == flag)
      assert(detail.map(_.getAs[Long]("n")).sum == fr.getAs[Long]("n"))
    }
    // ONE fan-out aggregate, not a per-level union: exactly one Expand node
    // and one parquet scan in the plan
    val plan = Relational.q27GroupingSets(spark, sf)
      .queryExecution.executedPlan.toString
    assert("(?m)^\\s*\\S*\\s*Expand".r.findAllIn(plan).size >= 1)
    assert(plan.split("Scan parquet").length - 1 == 1)
  }

  test("q28 anti join is the exact complement of the matching semi join") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    assert(anti + semi == c.count())
    assert(Relational.q28AntiJoin(spark, sf).agg(sum(col("n_inactive")))
      .head().getLong(0) == anti)
  }

  test("q30 except equals the anti-join formulation and is non-empty") {
    val li = Tables.lineitem(spark, sf)
    val a = li.filter(year(col("l_shipdate")) === 1995).select(col("l_partkey")).distinct()
    val b = li.filter(year(col("l_shipdate")) === 1996).select(col("l_partkey"))
    val viaAnti = a.join(b, Seq("l_partkey"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    val got = Relational.q30Except(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got == viaAnti)
    assert(got.nonEmpty)
  }

  test("q29 exact-moment stats agree with Spark's builtin corr/covar/stddev") {
    val got = Relational.q29ExactStats(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("corr_qty_price"), r.getAs[Double]("covar_qty_price"),
          r.getAs[Double]("stddev_qty"))).toMap
    val ref = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
        stddev_samp(col("l_quantity")).as("sd"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (k, (c, cv, sd)) =>
      assert(math.abs(c - ref(k)._1) < 1e-4, s"corr $k")
      assert(math.abs(cv - ref(k)._2) / math.abs(ref(k)._2) < 1e-3, s"covar $k")
      assert(math.abs(sd - ref(k)._3) / ref(k)._3 < 1e-3, s"stddev $k")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("128-bit moments aggregate is bit-identical to the decimal-sum form") {
    import spark.implicits._
    // testdata moments: the same cent-scaled projection through both aggs
    val li = Tables.lineitem(spark, sf).select(col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val fast = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.ExactMomentsAgg.moments(col("x"), col("y")).as("m"))
      .select(col("l_returnflag"), col("m.n"), col("m.sx"), col("m.sy"),
        col("m.sxy"), col("m.sxx"), col("m.syy"))
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getDecimal).toSeq).toMap
    val ref = Relational.q29ExactMomentsDecimal(spark, sf).collect()
      .map(r => r.getString(0) -> (1 to 6).map(r.getDecimal).toSeq).toMap
    assert(fast.keySet == ref.keySet && fast.keySet.nonEmpty)
    fast.foreach { case (k, v) => assert(v == ref(k), s"group $k") }
    // signed + carry coverage the money columns can't reach: negatives,
    // and y = 3e9 (y² ≈ 9.0e18 — two rows overflow a plain long, so the
    // low-word carry into the high word MUST fire to get this right)
    val big = 3000000000L
    // |x|,|y| ≤ 3e9 keeps every product inside a long — the kernel's
    // documented input contract (cent-scaled money is orders of magnitude
    // below it); x = -3e9 makes x² = 9e18, just under Long.Max, so the
    // SUM of two such squares must carry into the high word
    val hard = Seq(("a", -5L, big), ("a", 7L, big), ("a", -3L, -big),
      ("b", 0L, 0L), ("b", -big, big), ("b", big, -big)).toDF("g", "x", "y")
    val got = hard.groupBy(col("g"))
      .agg(graft.functions.ExactMomentsAgg.moments(col("x"), col("y")).as("m"))
      .select(col("g"), col("m.sx"), col("m.sy"), col("m.sxy"), col("m.sxx"), col("m.syy"))
      .collect().map(r => r.getString(0) -> (1 to 5).map(i =>
        BigInt(r.getDecimal(i).toBigInteger)).toSeq).toMap
    def bi(xs: Seq[(Long, Long)]) = Seq(
      xs.map(p => BigInt(p._1)).sum, xs.map(p => BigInt(p._2)).sum,
      xs.map(p => BigInt(p._1) * BigInt(p._2)).sum,
      xs.map(p => BigInt(p._1) * BigInt(p._1)).sum,
      xs.map(p => BigInt(p._2) * BigInt(p._2)).sum)
    assert(got("a") == bi(Seq((-5L, big), (7L, big), (-3L, -big))), got("a"))
    assert(got("b") == bi(Seq((0L, 0L), (-big, big), (big, -big))), got("b"))
  }

  test("q33 streak islands: consecutive-day runs, longest-tie -> earliest start") {
    import spark.implicits._
    // user 1: days 10,11,12 | 20 | 30,31 → 3 streaks, longest 3 @ 10
    // user 2: 5,6 | 9,10 → tie of length 2, earliest start 5 wins
    val days = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 20L), (1L, 30L), (1L, 31L),
      (2L, 5L), (2L, 6L), (2L, 9L), (2L, 10L))
    // one event per (user, day) at noon; duplicate one day to prove the
    // distinct collapses repeated activity
    val ts = (days :+ (1L, 10L)).zipWithIndex.map { case ((u, day), i) =>
      (i.toLong, new java.sql.Timestamp(day * 86400000L + 43200000L), u, "view", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("streaks").toString
    ts.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Relational.q33Streaks(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, 3L, 10L)), got)
    assert(got(2L) == ((2L, 2L, 5L)), got)
  }

  test("q34 RANGE frame: trailing-7-day sums include peers, exclude older rows") {
    import spark.implicits._
    val day = 86400L
    // user 1 purchases: day 0 (100), day 3 (200), day 8 (400): the day-8
    // row sees days 1..8 → itself + day 3; day-3 row sees 0 and 3
    val rows = Seq((1L, 0L * day, 1.0), (2L, 3L * day, 2.0), (3L, 8L * day, 4.0),
      // user 2: two purchases at the SAME instant — RANGE peers, both
      // rows must see BOTH (a ROWS frame would disagree)
      (4L, 5L * day, 8.0), (5L, 5L * day, 16.0))
    val ts = rows.map { case (eid, es, v) =>
      (eid, new java.sql.Timestamp(es * 1000L), if (eid <= 3) 1L else 2L, "purchase", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("moving").toString
    ts.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Relational.q34MovingWindow(spark, tmp).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((100L, 1L)))
    assert(got(2L) == ((300L, 2L)))  // days 0 and 3
    assert(got(3L) == ((600L, 2L)))  // day 0 aged out, 3 and 8 remain
    assert(got(4L) == ((2400L, 2L))) // same-instant peers both included
    assert(got(5L) == ((2400L, 2L)))
  }

  test("q35 min-cost supplier: one row per part, true per-part minimum") {
    import org.apache.spark.sql.functions._
    val got = ops.Relational.q35MinCostSupplier(spark, TestSpark.sf)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "a part appears twice")
    // recompute the per-(part,supplier) unit costs and check the argmin
    val li = Tables.lineitem(spark, TestSpark.sf)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("c"),
        sum(col("l_quantity").cast("long")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getLong(2).toDouble / r.getLong(3)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
    val best = li.groupBy(_._1).map { case (p, xs) =>
      p -> xs.map(x => (x._3, x._2)).min }
    rows.foreach { r =>
      val (u, sk) = best(r.getLong(0))
      assert(r.getLong(1) == sk && math.abs(r.getDouble(4) - u) < 1e-9,
        s"part ${r.getLong(0)}: got (${r.getLong(1)}, ${r.getDouble(4)}) want ($sk, $u)")
    }
  }

  test("recursive CTE (UnionLoop): BFS hop counts on a path-with-shortcut graph") {
    import spark.implicits._
    // 0-1-2-3-4 path plus shortcut 0-3: min-hops must prefer the shortcut
    val edges = Seq((0L,1L),(1L,2L),(2L,3L),(3L,4L),(0L,3L))
    (edges ++ edges.map(e => (e._2, e._1))).toDF("src", "dst")
      .createOrReplaceTempView("graft_reach_edges")
    val got = spark.sql(
      """WITH RECURSIVE r(node, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |  UNION ALL
        |  SELECT e.dst AS node, r.d + 1 AS d
        |  FROM r JOIN graft_reach_edges e ON e.src = r.node WHERE r.d < 3
        |)
        |SELECT node, CAST(min(d) AS BIGINT) AS hops FROM r GROUP BY node
        |""".stripMargin).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L), s"$got")
  }

  test("q37 unpivot: two rows per part, values preserved") {
    import org.apache.spark.sql.functions._
    val got = ops.Relational.q37Unpivot(spark, TestSpark.sf)
    val n = Tables.part(spark, TestSpark.sf).count()
    assert(got.count() == 2 * n)
    val one = got.filter(col("p_partkey") === 1).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val src = Tables.part(spark, TestSpark.sf).filter(col("p_partkey") === 1)
      .select(round(col("p_retailprice") * 100).cast("long"), col("p_size").cast("long"))
      .head()
    assert(one == Map("retail_cents" -> src.getLong(0), "size" -> src.getLong(1)))
  }

  test("q38 market share: shares in [0,1], denominator covers the numerator") {
    val rows = Relational.q38MarketShare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getDouble(1)
      assert(share >= 0.0 && share <= 1.0, s"year ${r.getLong(0)}: share $share")
    }
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("q39 profit: exact-integer recompute of one (nation, year) cell") {
    val rows = Relational.q39Profit(spark, sf).collect()
    assert(rows.nonEmpty)
    val (nat, yr, got) = (rows.head.getString(0), rows.head.getLong(1), rows.head.getLong(2))
    // independent recompute through plain collections on the small SF
    val parts = Tables.part(spark, sf).collect()
      .filter(_.getAs[String]("p_name").contains("widget"))
      .map(r => r.getAs[Long]("p_partkey") ->
        math.round(r.getAs[Double]("p_retailprice") * 100)).toMap
    val supNat = {
      val nm = Tables.nation(spark, sf).collect()
        .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[String]("n_name")).toMap
      Tables.supplier(spark, sf).collect()
        .map(r => r.getAs[Long]("s_suppkey") -> nm(r.getAs[Int]("s_nationkey"))).toMap
    }
    val ordYear = Tables.orders(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[java.time.LocalDateTime]("o_orderdate").getYear.toLong).toMap
    val exp = Tables.lineitem(spark, sf).collect().iterator.flatMap { r =>
      val pk = r.getAs[Long]("l_partkey")
      parts.get(pk).flatMap { rc =>
        val sn = supNat(r.getAs[Long]("l_suppkey"))
        val y = ordYear(r.getAs[Long]("l_orderkey"))
        if (sn == nat && y == yr) {
          val ep = math.round(r.getAs[Double]("l_extendedprice") * 100)
          val dp = math.round(r.getAs[Double]("l_discount") * 100)
          val q = r.getAs[Double]("l_quantity").toLong
          Some(ep * (100 - dp) - 40 * rc * q)
        } else None
      }
    }.sum
    assert(got == exp, s"($nat,$yr): got $got want $exp")
  }

  test("q40 waiting suppliers: each hit is the sole late supplier of a multi-supplier F order") {
    val rows = Relational.q40WaitingSuppliers(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // full driver-side recompute at the small SF
    val ord = Tables.orders(spark, sf).collect()
      .filter(_.getAs[String]("o_orderstatus") == "F")
      .map(r => r.getAs[Long]("o_orderkey") ->
        r.getAs[java.time.LocalDateTime]("o_orderdate")).toMap
    val lines = Tables.lineitem(spark, sf).collect().flatMap { r =>
      ord.get(r.getAs[Long]("l_orderkey")).map { od =>
        (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_suppkey"),
          r.getAs[java.time.LocalDateTime]("l_shipdate").isAfter(od.plusDays(45)))
      }
    }
    val byOrder = lines.groupBy(_._1)
    val waiting = byOrder.valuesIterator.flatMap { ls =>
      val supps = ls.map(_._2).distinct
      val late = ls.filter(_._3).map(_._2).distinct
      if (supps.length >= 2 && late.length == 1) late else Nil
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val names = Tables.supplier(spark, sf).collect()
      .map(r => r.getAs[String]("s_name") -> r.getAs[Long]("s_suppkey")).toMap
    val expTop = waiting.toSeq.map { case (sk, n) =>
      (names.find(_._2 == sk).get._1, n) }
      .sortBy { case (nm, n) => (-n, nm) }.take(20)
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == expTop)
  }

  test("q41 sales opportunity: threshold is exact, hits never ordered urgent") {
    val custs = Tables.customer(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Int]("c_nationkey").toLong,
        math.round(r.getAs[Double]("c_acctbal") * 100)))
    val pos = custs.map(_._3).filter(_ > 0)
    val (s0, n0) = (pos.sum, pos.length.toLong)
    val urgent = Tables.orders(spark, sf).collect()
      .filter(_.getAs[String]("o_orderpriority") == "1-URGENT")
      .map(_.getAs[Long]("o_custkey")).toSet
    val exp = custs.filter(c => c._3 * n0 > s0 && !urgent.contains(c._1))
      .groupBy(_._2).map { case (nk, xs) => (nk, xs.length.toLong, xs.map(_._3).sum) }
      .toSet
    val got = Relational.q41SalesOpportunity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("q43 window family: pr/cd in [0,1], first_cents is the partition minimum") {
    val rows = Relational.q43WindowFamily(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5))))
    assert(rows.nonEmpty)
    rows.foreach { case (_, pr, cd, _, _) =>
      assert(pr >= 0.0 && pr <= 1.0 && cd > 0.0 && cd <= 1.0)
    }
    // first_value over the running frame is constant per partition = min
    val byPart = rows.groupBy(_._1)
    byPart.foreach { case (p, xs) =>
      assert(xs.map(_._4).distinct.length == 1, s"first_cents varies in $p")
    }
    // nth_value(2) is null exactly for each partition's first row
    assert(rows.count(_._5.isEmpty) == byPart.size)
  }

  test("q43 two-level branch is row-equal to the plain-window branch") {
    def rows(bound: Long) = Relational.q43WindowFamily(spark, sf, bound)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toSet
    assert(rows(0L) == rows(Long.MaxValue),
      "the scale path must produce exactly the small-path result")
  }

  test("q44 important parts: exactly the parts above the exact integer threshold") {
    val all = Tables.lineitem(spark, sf).collect()
      .map(r => r.getAs[Long]("l_partkey") ->
        math.round(r.getAs[Double]("l_extendedprice") * 100))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val tot = all.values.sum
    val exp = all.filter { case (_, c) => c * 4000L > tot }.toSet
    val got = Relational.q44ImportantParts(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("q45 small-quantity revenue: exact recompute of the cross-multiplied threshold") {
    val lines = Tables.lineitem(spark, sf).collect().map(r =>
      (r.getAs[Long]("l_partkey"), r.getAs[Double]("l_quantity").toLong,
        math.round(r.getAs[Double]("l_extendedprice") * 100)))
    val pp = lines.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.map(_._2).sum, xs.length.toLong) }
    val small = lines.filter { case (p, q, _) =>
      val (sq, n) = pp(p); q * 5 * n < sq }
    val row = Relational.q45SmallQtyRevenue(spark, sf).head()
    assert(row.getLong(0) == small.map(_._3).sum)
    assert(row.getLong(1) == small.length.toLong && small.nonEmpty)
  }

  test("q46 approx percentiles: in-band booleans true, exact percentiles match brute force") {
    // r16 provable-gate shape: output = exact 4dp percentiles + the
    // rank-band booleans (GK ε=1e-4 vs the ±0.01 band → 100x slack)
    val rows = Relational.q46ApproxPercentile(spark, sf).collect()
    assert(rows.length == 3)
    val byFlag = Tables.lineitem(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("l_extendedprice"))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6),
        s"GK estimate left the ±0.01 rank band: $r")
      val xs = byFlag(r.getString(0)); val n = xs.length
      def pct(q: Double): Double = {
        val h = q * (n - 1); val l = h.toInt
        if (l == n - 1) xs(l) else xs(l) + (h - l) * (xs(l + 1) - xs(l))
      }
      for ((q, idx) <- Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3)) {
        assert(math.abs(r.getDouble(idx) - pct(q)) < 1e-4 + 1e-9,
          s"flag ${r.getString(0)} q=$q: ${r.getDouble(idx)} vs exact ${pct(q)}")
      }
    }
  }

  test("q42 order distribution: counts-of-counts partition the customer set") {
    val rows = Relational.q42OrderDist(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nCust, "distribution must cover every customer")
    val nonUrgent = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT").count()
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == nonUrgent,
      "k-weighted counts must cover every non-urgent order")
  }

  test("q47Resample: dense grid, exact integer interpolation, endpoints present") {
    val rows = ops.Relational.q47Resample(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byType = rows.groupBy(_._1)
    byType.foreach { case (t, rs) =>
      val days = rs.map(_._2).sorted
      // dense: every day between min and max present exactly once
      assert(days.sameElements(days.head to days.last),
        s"$t grid must be dense")
      // endpoints are real observations, never interpolated
      val m = rs.map(r => r._2 -> r._4).toMap
      assert(!m(days.head) && !m(days.last), s"$t endpoints must be present")
    }
    // filled rows sit strictly between their neighbors' values when the
    // segment is monotone (linear interpolation property); always within
    // the [min, max] of the two anchor values
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_._2)
      for (i <- sorted.indices if sorted(i)._4) {
        val prev = sorted.take(i).filter(!_._4).lastOption
        val next = sorted.drop(i + 1).find(!_._4)
        (prev, next) match {
          case (Some(p), Some(n)) =>
            val (lo, hi) = (math.min(p._3, n._3), math.max(p._3, n._3))
            assert(sorted(i)._3 >= lo - 1 && sorted(i)._3 <= hi,
              s"interpolated value out of anchor range at ${sorted(i)}")
          case _ => fail("filled row without both anchors")
        }
      }
    }
    // the present (unfilled) rows agree with a direct aggregate
    val present = rows.filter(!_._4).map(r => (r._1, r._2) -> r._3).toMap
    val direct = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400 AS day",
        "CAST(round(value * 100) AS BIGINT) AS c")
      .groupBy(col("event_type"), col("day")).agg(sum(col("c")).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(present == direct)
  }

  test("q48Scd2: versions tile each customer timeline; runs collapse; current is sentinel-open") {
    val rows = ops.Relational.q48Scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val byCust = rows.groupBy(_._1)
    byCust.foreach { case (c, vs) =>
      val sorted = vs.sortBy(_._2)
      // versions are 1..n
      assert(sorted.map(_._2).sameElements(1L to sorted.length))
      // intervals chain: version k's valid_to_excl == version k+1's valid_from
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 == b._4, s"cust $c: intervals must chain")
          assert(a._3 != b._3, s"cust $c: consecutive versions must differ")
        case _ =>
      }
      assert(sorted.last._5 == 99999999L, "current version open-ended")
      assert(sorted.forall(v => v._4 <= v._5))
    }
    // version count per customer == run count of the reference event stream
    val ref = Tables.orders(spark, sf)
      .selectExpr("o_custkey", "unix_timestamp(CAST(o_orderdate AS TIMESTAMP)) div 86400 AS day",
        "o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1).view.mapValues { es =>
        val ps = es.sortBy(e => (e._2, e._3)).map(_._4)
        1 + ps.sliding(2).count { w => w.length == 2 && w(0) != w(1) }
      }.toMap
    assert(byCust.view.mapValues(_.length).toMap == ref)
  }

  test("q49SlidingDistinct equals the per-day brute force") {
    val got = ops.Relational.q49SlidingDistinct(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val act = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_timestamp(CAST(ts AS TIMESTAMP)) div 86400 AS day")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = act.map(_._2).distinct
    val ref = days.map { d =>
      d -> act.filter(e => e._2 <= d && e._2 >= d - 6).map(_._1).distinct.length.toLong
    }.toMap
    assert(got == ref)
  }

  test("q50Concurrency equals the local boundary sweep") {
    val got = ops.Relational.q50Concurrency(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: rebuild sessions locally with the q13 gap rule, then a
    // single sorted sweep
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_timestamp(CAST(ts AS TIMESTAMP)) AS es", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._2, e._3)).map(_._2)
      val runs = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var st = sorted.head; var en = sorted.head
      for (t <- sorted.tail) {
        if (t - en > 1800) { runs += ((st, en)); st = t }
        en = t
      }
      runs += ((st, en)); runs.toList
    }.toSeq
    val bounds = sessions.flatMap { case (st, en) => Seq((st, 1L), ((en + 1), -1L)) }
      .sortBy(identity)
    var run = 0L
    val peaks = scala.collection.mutable.Map.empty[Long, Long]
    for ((t, dl) <- bounds) {
      run += dl
      val day = t / 86400
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), run)
    }
    assert(got == peaks.toMap)
  }

  test("q51Disjunctive pushes the part-side OR residue below the join") {
    val plan = planOf(Relational.q51Disjunctive(spark, sf))
    // the part scan must receive an Or(...) pushed filter over its own
    // columns -- the single-side residue of the disjunction
    val scanLines = plan.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("p_brand")).toSeq
    assert(scanLines.nonEmpty, s"no pushed part filter in:\n$plan")
    assert(scanLines.exists(_.contains("Or(")), s"OR residue not pushed: $scanLines")
  }

  test("q52SnapshotDiff classifies the simulated update correctly") {
    val rows = ops.Relational.q52SnapshotDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byStatus = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val nCust = Tables.customer(spark, sf).count()
    val custKeys = Tables.customer(spark, sf).select("c_custkey")
      .collect().map(_.getLong(0))
    // every 10th customer was deleted in B
    assert(byStatus("removed").toLong == custKeys.count(_ % 10 == 0))
    // every 7th customer was cloned under key+100000
    assert(byStatus("added").toLong == custKeys.count(_ % 7 == 0))
    assert(rows.filter(_._2 == "added").forall(_._1 >= 100000))
    // surviving keys: changed iff the customer has orders
    val withOrders = Tables.orders(spark, sf).select("o_custkey")
      .distinct().collect().map(_.getLong(0)).toSet
    rows.filter(t => t._2 == "changed" || t._2 == "same").foreach { t =>
      assert(t._1 % 10 != 0)
      assert((t._2 == "changed") == withOrders.contains(t._1), t.toString)
    }
    // coverage: every A key and every B key appears exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length == nCust + custKeys.count(_ % 7 == 0))
  }

  test("q53CappedBalance equals the iterative clamp recursion") {
    val got = ops.Relational.q53CappedBalance(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_timestamp(CAST(ts AS TIMESTAMP)) AS es",
        "event_id", "event_type", "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    ev.groupBy(_._1).foreach { case (u, es) =>
      var b = 0L
      es.sortBy(e => (e._2, e._3)).foreach { e =>
        val d = if (e._4 == "purchase") -e._5 else e._5
        b = math.max(0L, b + d)
        assert(got((u, e._3)) == b, s"user $u event ${e._3}")
      }
    }
    assert(got.values.forall(_ >= 0))
  }

  test("quotaByScore keeps each group's best-n and equals the global rank") {
    import org.apache.spark.sql.functions._
    val got = ops.Sampling.quotaByScore(Tables.documents(spark, sf),
        "source", "doc_id", graft.ops.TextOps.qualityCol(col("text")), n = 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3))).toSet
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.ops.TextOps.qualityCol(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2).toSeq.flatMap { case (src, ds) =>
        ds.sortBy(d => (-d._3, d._1)).take(5).zipWithIndex
          .map { case (d, ix) => (src, d._1, ix + 1L) }.toSeq
      }.toSet
    assert(got == ref)
  }

  test("q54ShareOfTotal: shares sum to 1 per region; proportional to cents") {
    val rows = ops.Relational.q54ShareOfTotal(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1),
        r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (region, ns) =>
      val total = ns.map(_._4).sum
      assert(math.abs(total - 1.0) < 1e-4, s"region $region shares sum $total")
      val byCents = ns.sortBy(-_._3).map(_._2).toSeq
      val byShare = ns.sortBy(-_._4).map(_._2).toSeq
      assert(byCents == byShare, "share order must follow cents order")
    }
    assert(rows.forall(r => r._4 > 0 && r._4 <= 1.0))
  }

  test("q55 volume shipping: only the two nation directions, dims broadcast") {
    // sf0.001 has only 10 suppliers, so the registered NATION_1/2 pair is
    // sparse here — exercise the shape on a pair that trades at this SF
    // (the driver's gate runs the registered pair at sf0.01, non-empty)
    val rows = Relational.q55VolumeShipping(spark, sf, "NATION_12", "NATION_10")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (sn, cn, y, rev) =>
      Set(("NATION_12", "NATION_10"), ("NATION_10", "NATION_12"))((sn, cn)) &&
        y >= 1996 && y <= 1997 && rev > 0 })
    assert(planOf(Relational.q55VolumeShipping(spark, sf)).contains("BroadcastHashJoin"))
  }

  test("q58 top supplier equals driver-side max of per-supplier revenue") {
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-04-01 00:00:00")
    val rev = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .collect()
      .groupBy(_.getAs[Long]("l_suppkey"))
      .view.mapValues(_.map(r => math.round(
        r.getAs[Double]("l_extendedprice") * (1 - r.getAs[Double]("l_discount")) * 10000))
        .sum).toMap
    val mx = rev.values.max
    val expKeys = rev.filter(_._2 == mx).keySet
    val got = Relational.q58TopSupplier(spark, sf).collect()
      .map(r => (r.getAs[Long]("s_suppkey"), r.getAs[Long]("revenue_e4")))
    assert(got.map(_._1).toSet == expKeys && got.forall(_._2 == mx), s"${got.toSeq} vs $expKeys/$mx")
  }

  test("q61 dominant suppliers verified against driver-side share computation") {
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val ps = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .collect()
      .groupBy(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey")))
      .view.mapValues(_.map(_.getAs[Double]("l_quantity").toLong).sum).toMap
    val partTot = ps.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val exp = ps.collect { case ((p, su), q) if q * 2 > partTot(p) => su }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Relational.q61DominantSuppliers(spark, sf).collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Long]("n_parts_dominated")).toMap
    assert(exp.nonEmpty, "degenerate fixture: no dominant suppliers at this SF")
    assert(got == exp, s"got=$got exp=$exp")
  }

  test("q59 excludes negative-acctbal suppliers; q60 rows satisfy the HAVING") {
    val bad = Tables.supplier(spark, sf).filter(col("s_acctbal") < 0)
      .collect().map(_.getAs[Long]("s_suppkey")).toSet
    if (bad.nonEmpty) {
      // recompute one excluded supplier's profile rows are absent: total
      // supplier_cnt must equal the distinct count over the filtered pairs
      val expPairs = Tables.lineitem(spark, sf)
        .select(col("l_partkey"), col("l_suppkey")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).filterNot(p => bad(p._2)).toSet
      val gotTotal = Relational.q59PartSupplierCount(spark, sf)
        .agg(sum(col("supplier_cnt"))).head().getLong(0)
      // sum over profiles of per-profile distinct suppliers == distinct
      // (profile, supplier) pairs after exclusion — join part profile in
      val parts = Tables.part(spark, sf).collect()
        .map(r => r.getAs[Long]("p_partkey") ->
          (r.getAs[String]("p_brand"), r.getAs[String]("p_type"), r.getAs[Int]("p_size"))).toMap
      val expTotal = expPairs.map { case (p, su) => (parts(p), su) }.size.toLong
      assert(gotTotal == expTotal)
    }
    val q60 = Relational.q60LargeOrders(spark, sf).collect()
    assert(q60.forall(_.getAs[Long]("total_qty") > 250))
  }

  test("q62 ship priority (Q12 flavor): high+low partition every joined line") {
    val lo = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val prio = Tables.orders(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[String]("o_orderpriority")).toMap
    val lines = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_returnflag")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val exp = lines.groupBy(_._2).view.mapValues { ls =>
      val hs = ls.count(l => Set("1-URGENT", "2-HIGH")(prio(l._1))).toLong
      (hs, ls.size.toLong - hs)
    }.toMap
    val got = Relational.q62ShipPriority(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("high_line_count"), r.getAs[Long]("low_line_count"))).toMap
    assert(exp.nonEmpty && got == exp, s"got=$got exp=$exp")
    // every line in the window is counted exactly once (high XOR low)
    assert(got.values.map(p => p._1 + p._2).sum == lines.length.toLong)
  }

  test("q65 transitions: lead pairs match driver-side recompute; totals conserve") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val exp = ev.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (r._2, r._3)).sliding(2).collect {
        case Array(a, b) => (a._4, b._4)
      }
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Relational.q65Transitions(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(got == exp, s"got ${got.size} cells, want ${exp.size}")
    // conservation: transitions = events − users (each user loses one)
    val nUsers = ev.map(_._1).distinct.length
    assert(got.values.sum == ev.length.toLong - nUsers)
  }

  test("report_signal_corr: correlations bounded and deterministic") {
    val r1 = SparkEntry.queries("report_signal_corr")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r1.nonEmpty)
    assert(r1.values.forall { case (_, c) => c >= -1.0 && c <= 1.0 })
    assert(r1.values.map(_._1).sum ==
      Tables.documents(spark, sf).count(), "every doc scored exactly once")
    val r2 = SparkEntry.queries("report_signal_corr")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(r1 == r2, "exact-moment formula must be bit-deterministic")
  }

  test("q64 RFM: scores match driver-side quartile recompute; cells partition customers") {
    val per = Tables.orders(spark, sf)
      .select(col("o_custkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        col("o_totalprice")).collect()
      .groupBy(_.getAs[Long]("o_custkey")).map { case (ck, rows) =>
        val lastDay = rows.map(_.getAs[String]("d")).max
        val rec = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(lastDay), java.time.LocalDate.parse("1998-08-01"))
        val mon = rows.map(r => math.round(r.getAs[Double]("o_totalprice") * 100)).sum
        ck -> (rec, rows.size.toLong, mon)
      }
    def q(xs: Seq[Double], p: Double): Double = { // numpy-style linear interp
      val s = xs.sorted; val h = (s.length - 1) * p
      val lo = s(h.toInt); val hi = s(math.ceil(h).toInt)
      lo + (h - h.toInt) * (hi - lo)
    }
    val recs = per.values.map(_._1.toDouble).toSeq
    val frs = per.values.map(_._2.toDouble).toSeq
    val mons = per.values.map(_._3.toDouble).toSeq
    def upS(v: Double, xs: Seq[Double]) =
      1L + Seq(0.25, 0.5, 0.75).count(p => v >= q(xs, p))
    def dnS(v: Double, xs: Seq[Double]) =
      1L + Seq(0.25, 0.5, 0.75).count(p => v < q(xs, p))
    val got = Relational.q64Rfm(spark, sf).collect()
      .map(r => r.getAs[Long]("custkey") ->
        (r.getAs[Long]("r_score"), r.getAs[Long]("f_score"),
          r.getAs[Long]("m_score"), r.getAs[Long]("rfm"))).toMap
    assert(got.size == per.size)
    per.foreach { case (ck, (rec, fr, mon)) =>
      val exp = (dnS(rec.toDouble, recs), upS(fr.toDouble, frs), upS(mon.toDouble, mons))
      val g = got(ck)
      assert((g._1, g._2, g._3) == exp, s"cust $ck: got $g want $exp")
      assert(g._4 == g._1 * 100 + g._2 * 10 + g._3)
    }
    // every score in 1..4
    assert(got.values.forall(g => Seq(g._1, g._2, g._3).forall(s => s >= 1 && s <= 4)))
  }

  test("q63 range join: bucketed plan matches brute force, no nested-loop join") {
    // exact microseconds (the engines' internal timestamp unit) — ms-level
    // getTime would mis-classify same-ms boundary pairs
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        math.round(r.getDouble(4) * 100)))
    val clicks = ev.filter(_._4 == "click")
    val purch = ev.filter(_._4 == "purchase")
    val winUs = 2L * 3600 * 1000000
    val exp = clicks.map { c =>
      val m = purch.filter(p => p._2 == c._2 && p._3 >= c._3 && p._3 < c._3 + winUs)
      c._1 -> (c._2, m.length.toLong, m.map(_._5).sum)
    }.toMap
    val df = Relational.q63RangeJoin(spark, sf)
    val got = df.collect().map(r => r.getAs[Long]("click_id") ->
      (r.getAs[Long]("user_id"), r.getAs[Long]("n_purchases"),
        r.getAs[Long]("purchase_cents"))).toMap
    assert(exp.values.exists(_._2 > 0), "degenerate fixture: no click→purchase match")
    assert(exp.values.exists(_._2 == 0), "degenerate fixture: every click matched")
    assert(got == exp)
    // the whole point of the bucketed expansion: a keyed shuffle join, not
    // a nested-loop/cartesian plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "range join planned as a nested loop")
  }
}
