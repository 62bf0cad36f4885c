package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.zarr.Zarr

/** Lifecycle rules of the fitted-model cache (the r17 ADVICE findings) and
  * cached-vs-direct equality of every family that now shares a fit. */
class SessionCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("getOrBuild returns the SAME artifact on a second lookup (one fit per corpus)") {
    val a = ops.TextOps.nbScoredCached(spark, sf)
    val b = ops.TextOps.nbScoredCached(spark, sf)
    assert(a eq b)
    val (m1, v1) = ops.TextOps.bpeModelCached(spark, sf)
    val (m2, v2) = ops.TextOps.bpeModelCached(spark, sf)
    assert((m1 eq m2) && (v1 eq v2))
    assert(ops.TextOps.unigramNllCached(spark, sf) eq
      ops.TextOps.unigramNllCached(spark, sf))
  }

  test("dirSignature: stable for an unchanged dir, changes on rewrite, absent for missing") {
    val dir = s"${GraftPaths.tmpRoot}/sig_probe"
    val df = spark.range(10).select(col("id"), (col("id") * 2).as("v"))
    df.write.mode("overwrite").parquet(dir)
    val s1 = SessionCache.dirSignature(spark, dir)
    assert(s1 == SessionCache.dirSignature(spark, dir))
    Thread.sleep(1100) // parquet mtime granularity can be 1 s
    spark.range(11).select(col("id"), (col("id") * 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    assert(SessionCache.dirSignature(spark, dir) != s1)
    assert(SessionCache.dirSignature(spark, s"$dir/__nope__") == "absent")
  }

  test("a REGENERATED corpus invalidates its entry and prunes the stale one") {
    val dir = s"${GraftPaths.tmpRoot}/regen_probe"
    spark.range(5).select(col("id"), lit("x").as("t"))
      .write.mode("overwrite").parquet(dir)
    def fit(): java.lang.Long = java.lang.Long.valueOf(
      spark.read.parquet(dir).count())
    val n0 = SessionCache.size
    val a = SessionCache.getOrBuild(spark, "regenTest", dir)(fit())
    assert(a.longValue == 5L && SessionCache.size == n0 + 1)
    assert(SessionCache.getOrBuild(spark, "regenTest", dir)(fit()) eq a)
    Thread.sleep(1100)
    spark.range(7).select(col("id"), lit("y").as("t"))
      .write.mode("overwrite").parquet(dir)
    val b = SessionCache.getOrBuild(spark, "regenTest", dir)(fit())
    // refit against the new data AND the stale-signature entry pruned
    assert(b.longValue == 7L && SessionCache.size == n0 + 1)
  }

  test("durable tier: a NEW session loads the persisted artifact instead of refitting") {
    val dir = s"${GraftPaths.tmpRoot}/durable_probe"
    spark.range(20).select(col("id"), (col("id") % 3).as("k"))
      .write.mode("overwrite").parquet(dir)
    var builds = 0
    def lookup(s: org.apache.spark.sql.SparkSession) =
      SessionCache.durableFrame(s, "durableCrossSession", dir) {
        builds += 1
        s.read.parquet(dir).groupBy(col("k")).agg(count(lit(1)).as("n"))
      }
    val a = lookup(spark).orderBy("k").collect()
    assert(builds == 1)
    lookup(spark) // same session: in-memory hit
    assert(builds == 1)
    // a NEW session is the restart proxy: no in-memory entry, so the
    // lookup must come from the signature-keyed durable store
    val s2 = spark.newSession()
    val b = lookup(s2).orderBy("k").collect()
    assert(builds == 1, "a new session must load the durable artifact, not refit")
    assert(a.sameElements(b))
  }

  test("durable tier: a REGENERATED corpus refits and replaces the stale artifact dir") {
    val dir = s"${GraftPaths.tmpRoot}/durable_regen"
    spark.range(5).select(col("id"), lit("x").as("t"))
      .write.mode("overwrite").parquet(dir)
    var builds = 0
    def fit(): Long = SessionCache.durable(spark, "durableRegen", dir)({
      builds += 1
      java.lang.Long.valueOf(spark.read.parquet(dir).count())
    })((v, tmp) => spark.createDataFrame(Seq((0, v.longValue)))
        .toDF("i", "v").write.parquet(s"$tmp/n"))(
      store => java.lang.Long.valueOf(
        spark.read.parquet(s"$store/n").head().getLong(1))).longValue
    assert(fit() == 5L && builds == 1)
    assert(fit() == 5L && builds == 1)
    Thread.sleep(1100) // parquet mtime granularity can be 1 s
    spark.range(7).select(col("id"), lit("y").as("t"))
      .write.mode("overwrite").parquet(dir)
    assert(fit() == 7L && builds == 2)
    // the stale-signature artifact dir was pruned at publish: exactly one
    // durable dir remains for the tag (bounded growth under regeneration)
    val root = new java.io.File(SessionCache.modelsRoot(spark).get)
    val dirs = root.listFiles().filter(_.getName.contains("durableRegen"))
    assert(dirs.length == 1, dirs.map(_.getName).mkString(","))
  }

  /** A fresh session with its own durable store under `root`: no
    * in-session entry of an earlier suite can answer its lookups. */
  private def isolatedSession(root: java.nio.file.Path) = {
    val s = spark.newSession()
    s.conf.set("spark.graft.models.dir", root.resolve("models").toString)
    s
  }

  test("SparkEntry: a corpus REGENERATED at the same path refits its models and restages its tables") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_regen_corpus")
    try {
      val s = isolatedSession(root)
      def copyOf(name: String): String = {
        val to = Files.createDirectory(root.resolve(name))
        Files.list(Paths.get(sf)).forEach(f => Files.copy(f, to.resolve(f.getFileName)))
        to.toString
      }
      // rewrite lineitem and orders in place with a row subset (read from
      // the pristine corpus: Spark cannot overwrite a path it reads)
      def regenerate(d: String): Unit = {
        Tables.lineitem(s, sf).filter(col("l_orderkey") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
        Tables.orders(s, sf).filter(col("o_orderkey") % 3 =!= 0)
          .write.mode("overwrite").parquet(s"$d/orders.parquet")
      }
      def run(d: String): Map[String, Seq[String]] =
        Seq("arr_pca", "q26_partition_pruning").map { q =>
          q -> SparkEntry.queries(q)(s, d).collect().map(_.toString).sorted.toSeq
        }.toMap
      val d = copyOf("d")
      val before = run(d) // fits the PCA model, stages the orders tree
      regenerate(d)
      val d2 = copyOf("d2")
      regenerate(d2)
      val (regen, fresh) = (run(d), run(d2))
      assert(regen != before, "the row subset must change both results")
      fresh.foreach { case (q, rows) =>
        assert(regen(q) == rows, s"$q on the regenerated corpus served stale state")
      }
    } finally Zarr.delete(root.toString, recursive = true)
  }

  test("query-keyed hybrid pools stay in-session: nothing named bm25KwPool or vecPool is durable") {
    val root = java.nio.file.Files.createTempDirectory("graft_pools")
    try {
      val s = isolatedSession(root)
      Seq("ann_hybrid_bm25", "stream_hybrid_rrf").foreach { q =>
        assert(SparkEntry.queries(q)(s, sf).collect().nonEmpty, q)
      }
      val models = root.resolve("models").toFile
      val names = Option(models.list()).toSeq.flatten
      assert(!names.exists(n => n.contains("bm25KwPool") || n.contains("vecPool")),
        names.mkString(", "))
    } finally Zarr.delete(root.toString, recursive = true)
  }

  test("durable tier: a damaged committed artifact self-heals by rebuilding") {
    val dir = s"${GraftPaths.tmpRoot}/durable_damage"
    spark.range(9).select(col("id"), (col("id") * 5).as("v"))
      .write.mode("overwrite").parquet(dir)
    var builds = 0
    def lookup(s: org.apache.spark.sql.SparkSession): Long =
      SessionCache.durable(s, "durableDamage", dir)({
        builds += 1
        java.lang.Long.valueOf(s.read.parquet(dir).agg(sum(col("v"))).head().getLong(0))
      })((v, tmp) => spark.createDataFrame(Seq((0, v.longValue)))
          .toDF("i", "v").write.parquet(s"$tmp/n"))(
        store => java.lang.Long.valueOf(
          spark.read.parquet(s"$store/n").head().getLong(1))).longValue
    val expect = 5L * (0 to 8).sum
    assert(lookup(spark) == expect && builds == 1)
    // damage the COMMITTED artifact: delete its payload, keep the marker
    val root = new java.io.File(SessionCache.modelsRoot(spark).get)
    val storeDir = root.listFiles().filter(_.getName.contains("durableDamage")).head
    val payload = new java.io.File(storeDir, "n")
    payload.listFiles().foreach(_.delete()); payload.delete()
    // a NEW session forces the durable path; the broken load must rebuild
    val s2 = spark.newSession()
    assert(lookup(s2) == expect, "damaged artifact must self-heal")
    assert(builds == 2)
    // and the healed artifact serves the next session from disk again
    assert(lookup(spark.newSession()) == expect && builds == 2)
  }

  test("session-churn bound: the entry map cannot grow past its LRU cap") {
    val dir = s"${GraftPaths.tmpRoot}/churn_probe"
    spark.range(3).write.mode("overwrite").parquet(dir)
    // 300 distinct entries over fresh newSession handles: these sessions
    // never stop, so stopped-session eviction alone would retain every
    // one — the LRU cap is what bounds a session-churning JVM
    (0 until 300).foreach { i =>
      val s = spark.newSession()
      SessionCache.getOrBuild(s, s"churn$i", dir)(java.lang.Integer.valueOf(i))
    }
    assert(SessionCache.size <= 256, s"size=${SessionCache.size}")
  }

  test("cached NB / BPE / LM chains are value-identical to the direct fits") {
    val docs = Tables.documents(spark, sf)
    val direct = ops.TextOps.naiveBayes(docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
    val cached = ops.TextOps.naiveBayesFromScored(ops.TextOps.nbScoredCached(spark, sf))
      .orderBy("doc_id").collect()
    assert(direct.sameElements(cached))

    val directBpe = ops.TextOps.bpeTokens(docs, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    val cachedBpe = ops.TextOps.bpeTokensFromVocab(docs, "doc_id", "text",
        ops.TextOps.bpeModelCached(spark, sf)._2)
      .orderBy("doc_id").collect()
    assert(directBpe.sameElements(cachedBpe))

    val directNll = ops.TextOps.unigramNll(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val cachedNll = ops.TextOps.unigramNllCached(spark, sf)
      .orderBy("doc_id").collect()
    assert(directNll.sameElements(cachedNll))

    val directCuts = ops.TextOps.pplTercileCuts(docs, "doc_id", "text")
      .orderBy("lang").collect()
    val cachedCuts = ops.TextOps.pplServingModelCached(spark, sf)._2.sortBy(_._1)
    assert(directCuts.length == cachedCuts.length)
    directCuts.zip(cachedCuts).foreach { case (r, (lang, t1, t2)) =>
      assert(r.getString(0) == lang)
      assert((if (r.isNullAt(1)) None else Some(r.getLong(1))) == t1)
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == t2)
    }
  }
}
