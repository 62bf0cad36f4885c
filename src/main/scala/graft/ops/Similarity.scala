package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single scan with a codegen'd
  * `zip_with`+`aggregate` dot product (no UDF, no shuffle until the final
  * k-row TakeOrdered merge).
  *
  * Scale path: random-hyperplane LSH buckets. Each vector hashes to a
  * `numPlanes`-bit bucket; a query probes its own bucket plus all
  * Hamming-1 neighbors (multi-probe), so at 100 TB the scan touches
  * ~ (numPlanes+1)/2^numPlanes of the corpus instead of all of it, with the
  * bucket id usable as a partition/cluster key for storage-side pruning.
  */
object Similarity {

  /** Deterministic hyperplanes: fixed-seed Gaussian components. O(planes·dim)
    * doubles — a parameter, broadcast as literals into codegen. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  import graft.functions.VectorExprs.{dot, norm2}

  private def dotLit(vecCol: Column, q: Array[Double]): Column =
    dot(vecCol, typedlit(q))

  /** Cosine of each row's vector against a fixed query vector. The double
    * cast makes the fold arithmetic exact-deterministic (f32 → f64 widening
    * is lossless; left-to-right fold matches an index-ordered oracle). */
  def cosineToQuery(emb: DataFrame, vecCol: String, q: Array[Double]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val qn = math.sqrt(q.map(x => x * x).sum)
    // a zero-norm vector has no cosine: under ANSI mode a plain divide is
    // a hard DIVIDE_BY_ZERO task failure — try_divide yields null instead,
    // and consumers drop nulls (top-k) or fail the >= minCos predicate
    emb.withColumn("cos", try_divide(dotLit(v, q), norm2(v) * lit(qn)))
  }

  /** Brute-force cosine top-k (rounded for deterministic ranking). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     q: Array[Double], k: Int): DataFrame =
    cosineToQuery(emb, vecCol, q)
      // zero-norm vectors (cos = null from try_divide) drop out of the
      // ranking — unguarded they would either crash (ANSI divide) or
      // NaN-rank first (NaN orders as the largest double)
      .filter(col("cos").isNotNull)
      // +0.0 collapses IEEE -0.0 (oracle byte-parity for near-zero cosines)
      .select(col(idCol), (round(col("cos"), 4) + 0.0).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** L33: HYBRID retrieval — keyword match and vector similarity fused
    * by Reciprocal Rank Fusion (Cormack et al. 2009), the standard
    * vector-DB hybrid-search shape: each side contributes a bounded
    * top-`poolK` ranked list, and fusion happens on RANKS, so no score
    * normalization across incomparable scales is needed. The 1/(60+r)
    * RRF terms are snapped to exact integers floor(10⁹/(60+r)) — a
    * pure-BIGINT fusion (PARITY class 1); absent-from-pool sides
    * contribute 0 and surface rank 0.
    *
    * Scale shapes: the keyword score is one scan (array_intersect
    * against a literal term set — no token shuffle at all); both
    * top-poolK selections are TakeOrdered (no global sort); the only
    * windows run over the two poolK-row lists (bounded, parameter-
    * sized); the fusion join is poolK×poolK at most. */
  def hybridTopK(docs: DataFrame, idCol: String, textCol: String,
                 emb: DataFrame, vecIdCol: String, vecCol: String,
                 terms: Seq[String], q: Array[Double],
                 k: Int, poolK: Int = 100): DataFrame = {
    val kwPool = docs.select(col(idCol).as("id"),
        size(array_intersect(array_distinct(split(trim(col(textCol)), "\\s+")),
          lit(terms.toArray))).as("_kw"))
      .filter(col("_kw") > 0)
      .orderBy(col("_kw").desc, col("id")).limit(poolK)
    val kwRanked = kwPool.withColumn("kw_rank", row_number().over(
      Window.orderBy(col("_kw").desc, col("id"))))
    val vecPool = cosineToQuery(emb, vecCol, q)
      .filter(col("cos").isNotNull)
      .select(col(vecIdCol).as("id"), (round(col("cos"), 4) + 0.0).as("_cos"))
      .orderBy(col("_cos").desc, col("id")).limit(poolK)
    val vecRanked = vecPool.withColumn("vec_rank", row_number().over(
      Window.orderBy(col("_cos").desc, col("id"))))
    kwRanked.select(col("id"), col("kw_rank"))
      .join(vecRanked.select(col("id"), col("vec_rank")), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + kw_rank)"), lit(0L)) +
         coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + vec_rank)"), lit(0L)))
          .as("rrf"),
        coalesce(col("kw_rank").cast("long"), lit(0L)).as("kw_rank"),
        coalesce(col("vec_rank").cast("long"), lit(0L)).as("vec_rank"))
      .orderBy(col("rrf").desc, col("id")).limit(k)
  }

  /** L51: BM25-scored HYBRID retrieval — [[hybridTopK]] with the keyword
    * side upgraded from raw term-overlap counts to Okapi BM25 (Robertson
    * et al.; Lucene idf form), the ranking real search engines run:
    *
    *   bm25(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len_d/avglen)),
    *   idf(t)  = ln((N+1)/(df_t+0.5)),  k1 = 1.2, b = 0.75.
    *
    * Everything is EXACT INTEGER so the RRF fusion stays bit-equal
    * across engines (PARITY class 1): the idf is one shared-series LnFix
    * micro-nat on the integer ratio (2·df+1)/(2·N+2) ≡ (df+0.5)/(N+1) —
    * Lucene's 1+… form keeps it nonnegative, inside LnFix's domain —
    * and the tf normalization clears denominators with k1 = 6/5,
    * b = 3/4, avglen = total_len/N:
    *
    *   score_micro(t,d) = (idf_micro · 44·total_len·tf)
    *                  div (20·total_len·tf + 6·total_len + 18·len_d·N)
    *
    * — one decimal(38,0) floor division per (doc, term), summed per doc.
    *
    * Scale shapes: ONE tokenize pass feeds doc lengths, per-doc tf and
    * per-term df; the hit set is filtered to the literal query terms
    * BEFORE any aggregation (term-bounded, not vocabulary-sized); the
    * idf table is |terms| rows (broadcast); corpus scalars N/total_len
    * enter as driver literals from a 1-row aggregate; both pools remain
    * TakeOrdered; fusion stays poolK×poolK. */
  def hybridBm25TopK(docs: DataFrame, idCol: String, textCol: String,
                     emb: DataFrame, vecIdCol: String, vecCol: String,
                     terms: Seq[String], q: Array[Double],
                     k: Int, poolK: Int = 100): DataFrame =
    rrfFusePools(bm25KwPoolDf(docs, idCol, textCol, terms, poolK),
      vecPoolDf(emb, vecIdCol, vecCol, q, poolK), k)

  /** The RRF fusion tail over the two (id, score) pools — ONE shared body
    * for the direct and the cached faces, so they cannot drift. */
  private def rrfFusePools(kwPool: DataFrame, vecPool: DataFrame,
                           k: Int): DataFrame = {
    val kwRanked = kwPool
      .withColumn("kw_rank", row_number().over(
        Window.orderBy(col("_kw").desc, col("id"))))
    val vecRanked = vecPool
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("_cos").desc, col("id"))))
    kwRanked.select(col("id"), col("kw_rank"))
      .join(vecRanked.select(col("id"), col("vec_rank")), Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + kw_rank)"), lit(0L)) +
         coalesce(expr("CAST(1000000000 AS BIGINT) div (60 + vec_rank)"), lit(0L)))
          .as("rrf"),
        coalesce(col("kw_rank").cast("long"), lit(0L)).as("kw_rank"),
        coalesce(col("vec_rank").cast("long"), lit(0L)).as("vec_rank"))
      .orderBy(col("rrf").desc, col("id")).limit(k)
  }

  /** Cached face of [[hybridBm25TopK]] over the standard corpus tables —
    * the pools come from [[bm25KwPoolCached]]/[[vecPoolCached]], so within
    * a session the batch query and the streaming hybrid query share one
    * build per (corpus, query) instead of each scoring the corpus. */
  def hybridBm25TopKCached(spark: org.apache.spark.sql.SparkSession,
                           sfDir: String, terms: Seq[String], q: Array[Double],
                           k: Int, poolK: Int = 100): DataFrame =
    rrfFusePools(bm25KwPoolCached(spark, sfDir, terms, poolK),
      vecPoolCached(spark, sfDir, q, poolK), k)

  /** [[bm25KwPoolDf]] over the corpus documents table, built once per
    * (session, corpus, terms, poolK). The pool is a query result, keyed
    * on the query's literal terms, so it lives in the in-session tier
    * only — never in the durable store. The defining (score desc, id)
    * order is RE-APPLIED over the checkpoint. */
  def bm25KwPoolCached(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                       terms: Seq[String], poolK: Int): DataFrame =
    graft.SessionCache.getOrBuild(spark,
        s"bm25KwPool:$sfDir:${terms.mkString(" ")}:$poolK",
        s"$sfDir/documents.parquet")(
      bm25KwPoolDf(graft.Tables.documents(spark, sfDir), "doc_id", "text",
        terms, poolK).localCheckpoint())
      .orderBy(col("_kw").desc, col("id"))

  /** [[vecPoolDf]] over the corpus embeddings table, built once per
    * (session, corpus, query vector, poolK); in-session only and the same
    * re-applied defining order as [[bm25KwPoolCached]]. The tag carries
    * the query vector's full-precision digest. */
  def vecPoolCached(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                    q: Array[Double], poolK: Int): DataFrame = {
    val qSig = java.security.MessageDigest.getInstance("MD5")
      .digest(q.map(java.lang.Double.doubleToRawLongBits)
        .mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    graft.SessionCache.getOrBuild(spark, s"vecPool:$sfDir:$qSig:$poolK",
        s"$sfDir/embeddings.parquet")(
      vecPoolDf(graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        q, poolK).localCheckpoint())
      .orderBy(col("_cos").desc, col("id"))
  }

  /** [[bm25Model]] over the corpus documents table, fitted once per
    * (session, corpus, terms) — model-parameter-sized driver object. */
  def bm25ModelCached(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                      terms: Seq[String]): (Map[String, Long], Long, Long) =
    graft.SessionCache.getOrBuild(spark,
        s"bm25Model:$sfDir:${terms.mkString(" ")}",
        s"$sfDir/documents.parquet")(
      bm25Model(graft.Tables.documents(spark, sfDir), "doc_id", "text", terms))

  /** The hybrid ranking's KEYWORD POOL: top-poolK (id, _kw: exact BM25
    * micro-nats) in (score desc, id) order — ONE shared construction for
    * the batch fusion ([[hybridBm25TopK]]) and the S25 serving-model
    * collection, so the two cannot drift. */
  def bm25KwPoolDf(docs: DataFrame, idCol: String, textCol: String,
                   terms: Seq[String], poolK: Int): DataFrame = {
    // doc lengths WITHOUT the explode: size(split(...)) equals the
    // exploded row count exactly ('' -> [''] -> 1), so the length pass
    // is a narrow projection instead of a second corpus-wide explode
    val lens = docs.select(col(idCol).as("id"),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("len"))
    val toks = docs.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("token"))
    val nt = lens.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("len")), lit(0L)).as("total_len")).head()
    val (nDocs, totalLen) = (nt.getLong(0), nt.getLong(1))
    require(nDocs > 0, "BM25 needs a non-empty corpus")
    val hits = toks.filter(col("token").isin(terms: _*))
    // ONE corpus explode (r20): df per token is an exact roll-up of the
    // (id, token) tf table — one row per (id, token) ⇒ count(*) ==
    // countDistinct(id) — so the explode+filter pass runs once and the
    // checkpointed hits-bounded tf table feeds both consumers.
    val tf = hits.groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = graft.functions.LnFix.withNegLnMicro(
      dfT, "2 * df + 1", s"${2 * nDocs + 2}", "idf_micro")
    val dec = "decimal(38,0)"
    val num = s"CAST(idf_micro AS $dec) * 44 * CAST($totalLen AS $dec) * tf"
    val den = s"20 * CAST($totalLen AS $dec) * tf + 6 * CAST($totalLen AS $dec)" +
      s" + 18 * CAST(len AS $dec) * $nDocs"
    tf
      .join(broadcast(idf.select(col("token"), col("idf_micro"))), Seq("token"))
      .join(lens, Seq("id"))
      .selectExpr("id", s"CAST((($num) div ($den)) AS BIGINT) AS _t")
      .groupBy(col("id")).agg(sum(col("_t")).as("_kw"))
      .filter(col("_kw") > 0)
      .orderBy(col("_kw").desc, col("id")).limit(poolK)
  }

  /** The hybrid ranking's VECTOR POOL: top-poolK (id, _cos: 4dp cosine)
    * in (cos desc, id) order — shared like [[bm25KwPoolDf]]. */
  def vecPoolDf(emb: DataFrame, vecIdCol: String, vecCol: String,
                q: Array[Double], poolK: Int): DataFrame =
    cosineToQuery(emb, vecCol, q)
      .filter(col("cos").isNotNull)
      .select(col(vecIdCol).as("id"), (round(col("cos"), 4) + 0.0).as("_cos"))
      .orderBy(col("_cos").desc, col("id")).limit(poolK)

  /** Collected BM25 model for the SERVING face (S24): per-term LnFix idf
    * micro-nats plus the corpus scalars (N, total token length). The idf
    * table is |terms| rows and the scalars one row — model-parameter-
    * sized driver traffic, the stream_classify collection contract. */
  def bm25Model(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String]): (Map[String, Long], Long, Long) = {
    val lens = docs.select(
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("len"))
    val nt = lens.agg(count(lit(1)).as("n"),
      coalesce(sum(col("len")), lit(0L)).as("tl")).head()
    val (n, tl) = (nt.getLong(0), nt.getLong(1))
    require(n > 0, "BM25 needs a non-empty corpus")
    val dfT = docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("token")).agg(countDistinct(col("id")).as("df"))
    val idf = graft.functions.LnFix
      .withNegLnMicro(dfT, "2 * df + 1", s"${2 * n + 2}", "idf_micro")
      .select(col("token"), col("idf_micro"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (idf, n, tl)
  }

  /** Assign each vector its hyperplane-sign bucket (int bitmask). */
  def withBucket(emb: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bucket = planes.zipWithIndex.map { case (p, idx) =>
      when(dotLit(v, p) > 0, lit(1 << idx)).otherwise(lit(0))
    }.reduce(_ + _)
    emb.withColumn("bucket", bucket)
  }

  def bucketOf(q: Array[Double], planes: Array[Array[Double]]): Int =
    planes.zipWithIndex.foldLeft(0) { case (acc, (p, idx)) =>
      val d = p.zip(q).map { case (a, b) => a * b }.sum
      if (d > 0) acc | (1 << idx) else acc
    }

  /** All buckets within Hamming distance `maxHamming` of `qb` (multi-probe). */
  def probeSet(qb: Int, numPlanes: Int, maxHamming: Int): Seq[Int] = {
    def flips(bits: List[Int]): Int = bits.foldLeft(qb)((a, b) => a ^ (1 << b))
    (0 to maxHamming).flatMap(h =>
      (0 until numPlanes).combinations(h).map(c => flips(c.toList))).distinct
  }

  /** LSH ANN: probe the query's bucket plus all Hamming-`maxHamming`
    * neighbors, exact cosine within. The `isin` probe list prunes at the
    * scan/cluster level (bucket is a storage partition key at scale).
    * nprobe (via maxHamming) trades recall for scan fraction. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String, q: Array[Double],
              k: Int, planes: Array[Array[Double]], maxHamming: Int = 2): DataFrame = {
    val probes = probeSet(bucketOf(q, planes), planes.length, maxHamming)
    val bucketed = withBucket(emb, vecCol, planes)
      .filter(col("bucket").isin(probes: _*))
    bruteForceTopK(bucketed, idCol, vecCol, q, k)
  }

  /** L45: retrieval-recall EVAL — overlap@k of the LSH-probed ranking vs
    * the exact ranking, per query in a batch: the measurement a team runs
    * before trusting an approximate index in production (the
    * emb_matryoshka pattern, applied to the index instead of the
    * embedding). Both sides are batch-shaped: exact = [[batchTopK]]'s one
    * scan; the LSH side is ONE bucketed scan joined (broadcast
    * nested-loop against the B-row query-literal frame — the
    * parameter-frame crossJoin convention) on the Hamming-ball predicate
    * `bit_count(bucket ⊕ qbucket) ≤ maxHamming`, exact cosine within,
    * rank ≤ k per query. Output (query_id, n_lsh, overlap@k) — exact
    * integers, fully oracle-checked. A query whose LSH candidates are
    * empty (possible in principle) still reports with overlap 0 via the
    * left join from the exact side's query list. */
  def lshRecallEval(emb: DataFrame, idCol: String, vecCol: String,
                    queries: Seq[(Long, Array[Double])], k: Int,
                    planes: Array[Array[Double]],
                    maxHamming: Int = 2): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val exact = batchTopK(emb, idCol, vecCol, queries, k)
    val qdf = broadcast(queries.map { case (qid, q) =>
      (qid, bucketOf(q, planes), q.toSeq,
        math.sqrt(q.map(x => x * x).sum))
    }.toDF("query_id", "qbucket", "qvec", "qn"))
    val v = col(vecCol).cast("array<double>")
    val lsh = withBucket(emb, vecCol, planes)
      .join(qdf, bit_count(col("bucket").bitwiseXOR(col("qbucket"))
        .cast("long")) <= maxHamming)
      .select(col("query_id"), col(idCol).cast("long").as("vec_id"),
        try_divide(dot(v, col("qvec").cast("array<double>")),
          graft.functions.VectorExprs.norm2(v) * col("qn")).as("cos"))
      .filter(col("cos").isNotNull)
      .select(col("query_id"), col("vec_id"), (round(col("cos"), 4) + 0.0).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
    val nl = lsh.groupBy(col("query_id")).agg(count(lit(1)).as("n_lsh"))
    val ov = exact.select(col("query_id"), col("vec_id"))
      .join(lsh.select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("overlap"))
    exact.select(col("query_id")).distinct()
      .join(nl, Seq("query_id"), "left_outer")
      .join(ov, Seq("query_id"), "left_outer")
      .select(col("query_id"), coalesce(col("n_lsh"), lit(0L)).as("n_lsh"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
  }

  /** L57 weights: the per-match RBO mass. RBO@k (Webber et al. 2010,
    * truncated) = Σ_{d=1..k} (1−p)·p^(d−1)·|A_d ∩ B_d|/d; regrouping by
    * MATCH instead of depth, each id present in both top-k lists
    * contributes w(m) = Σ_{d=m..k} (1−p)·p^(d−1)/d where m is the max of
    * its two ranks — so the score is ONE integer sum of literal weights
    * (1e-9 units), order-free and bit-equal across engines. The weights
    * are computed once here and injected as the SAME literals into both
    * the Spark plan and the DuckDB oracle. */
  private[graft] def rboWeightsE9(k: Int, p: Double): Seq[Long] =
    (1 to k).map(m => math.round(
      (m to k).map(d => (1 - p) * math.pow(p, d - 1) / d).sum * 1e9))

  /** L57: rank-biased overlap of the LSH ranking vs the exact ranking —
    * the top-weighted sibling of [[lshRecallEval]]'s flat overlap@k: two
    * rankings that agree on rank 1 but disagree at rank 10 score far
    * higher than the reverse, which is what an ANN index consumer
    * actually cares about. Same bounded construction as the recall eval
    * (hamming-ball candidates, per-query top-k windows over poolK rows);
    * the fusion is one (query, id) join of two k-row lists + an exact
    * BIGINT sum of literal weights. Output (query_id, rbo_e9) in 1e-9
    * units. NOTE the ceiling: this is TRUNCATED RBO, so identical top-k
    * lists score `rboWeightsE9(k, p).sum` = (1−p^k)·1e9 (≈ 651,322,373
    * for k=10, p=0.9), NOT 1e9 — normalize by that sum, not by 1e9, to
    * land in [0,1]. */
  def lshRboEval(emb: DataFrame, idCol: String, vecCol: String,
                 queries: Seq[(Long, Array[Double])], k: Int,
                 planes: Array[Array[Double]],
                 maxHamming: Int = 2, p: Double = 0.9): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val exact = batchTopK(emb, idCol, vecCol, queries, k)
      .withColumn("re", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .select(col("query_id"), col("vec_id"), col("re"))
    val qdf = broadcast(queries.map { case (qid, q) =>
      (qid, bucketOf(q, planes), q.toSeq,
        math.sqrt(q.map(x => x * x).sum))
    }.toDF("query_id", "qbucket", "qvec", "qn"))
    val v = col(vecCol).cast("array<double>")
    val lsh = withBucket(emb, vecCol, planes)
      .join(qdf, bit_count(col("bucket").bitwiseXOR(col("qbucket"))
        .cast("long")) <= maxHamming)
      .select(col("query_id"), col(idCol).cast("long").as("vec_id"),
        try_divide(dot(v, col("qvec").cast("array<double>")),
          graft.functions.VectorExprs.norm2(v) * col("qn")).as("cos"))
      .filter(col("cos").isNotNull)
      .select(col("query_id"), col("vec_id"), (round(col("cos"), 4) + 0.0).as("cos"))
      .withColumn("rl", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rl") <= k)
      .select(col("query_id"), col("vec_id"), col("rl"))
    val w = rboWeightsE9(k, p)
    val scored = exact.join(lsh, Seq("query_id", "vec_id"))
      .select(col("query_id"),
        element_at(typedlit(w), greatest(col("re"), col("rl")).cast("int")).as("_w"))
      .groupBy(col("query_id")).agg(sum(col("_w")).as("rbo_e9"))
    exact.select(col("query_id")).distinct()
      .join(scored, Seq("query_id"), "left_outer")
      .select(col("query_id"), coalesce(col("rbo_e9"), lit(0L)).as("rbo_e9"))
  }

  /** Batched ANN serving: exact top-k for a BATCH of query vectors in ONE
    * corpus scan — the serving shape (queries arrive in batches; scanning
    * the corpus once per query would be B scans). The batch (B×dim
    * doubles, a model-parameter-sized closure) rides into each partition;
    * a bounded per-partition selection keeps the k best candidates per
    * query (B·k entries per task — the partial top-k `TakeOrdered` uses
    * internally, which Spark has no declarative per-group form of), and
    * the global merge ranks only the B × partitions × k partials with a
    * window. Scoring matches [[bruteForceTopK]] exactly: f64
    * left-to-right dot, HALF_UP 4dp rounding (+0.0 collapses -0.0),
    * zero-norm rows dropped, ties ranked by id. `excludeSelf` drops the
    * corpus row whose id equals the query's own id — the kNN-GRAPH
    * convention (scanpy pp.neighbors), where a node is not its own
    * neighbor. */
  def batchTopK(emb: DataFrame, idCol: String, vecCol: String,
                queries: Seq[(Long, Array[Double])], k: Int,
                excludeSelf: Boolean = false): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, q) =>
      (qid, q, math.sqrt(q.map(x => x * x).sum))
    }
    // PQ dequeues its max; ordering by (-cos, id) makes "max" = the WORST
    // kept candidate (lowest cos, then largest id), so replacement is O(log k)
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))
    val partials = emb
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .mapPartitions { rows =>
        val heaps = qs.map(_ => new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        rows.foreach { case (id, v) =>
          var n2 = 0.0
          var i = 0
          while (i < v.length) { n2 += v(i) * v(i); i += 1 }
          val nrm = math.sqrt(n2)
          if (nrm > 0.0) qs.zip(heaps).foreach { case ((qid, q, qn), heap) =>
            if (qn > 0.0 && q.length == v.length && !(excludeSelf && id == qid)) {
              var d = 0.0
              var j = 0
              while (j < v.length) { d += v(j) * q(j); j += 1 } // left-to-right, = dot Expression
              val cos = BigDecimal(d / (nrm * qn))
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
              if (heap.size < k) heap.enqueue((cos, id))
              else if (worstFirst.lt((cos, id), heap.head)) {
                heap.dequeue(); heap.enqueue((cos, id))
              }
            }
          }
        }
        qs.zip(heaps).iterator.flatMap { case ((qid, _, _), heap) =>
          heap.iterator.map { case (cos, id) => (qid, id, cos) }
        }
      }
      .toDF("query_id", "vec_id", "cos")
    partials
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** L42: HARD-NEGATIVE MINING for contrastive/embedding training — for
    * each anchor, the k most-similar corpus vectors carrying a DIFFERENT
    * label (the classic "hardest negatives" batch construction; positives
    * and same-label near-misses are excluded at the scan). Same bounded
    * plan shape as [[batchTopK]]: ONE corpus scan for the whole anchor
    * batch, per-partition partial top-k heaps (the label test is one
    * string compare before any arithmetic), window merge of B·parts·k
    * partials — the corpus is never shuffled and never scored twice.
    * Null-label rows are not admissible negatives (their label is
    * unknown, not different) and are skipped. Deterministic: 4dp-rounded
    * cosine, ties → smaller vec_id — fully oracle-checked. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String,
                    queries: Seq[(Long, String, Array[Double])],
                    k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, ql, q) =>
      (qid, ql, q, math.sqrt(q.map(x => x * x).sum))
    }
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))
    val partials = emb
      .select(col(idCol).cast("long"), col(labelCol).cast("string"),
        col(vecCol).cast("array<double>"))
      .as[(Long, String, Array[Double])]
      .mapPartitions { rows =>
        val heaps = qs.map(_ =>
          new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst))
        rows.foreach { case (id, lab, v) =>
          if (lab != null) {
            var n2 = 0.0
            var i = 0
            while (i < v.length) { n2 += v(i) * v(i); i += 1 }
            val nrm = math.sqrt(n2)
            if (nrm > 0.0) qs.zip(heaps).foreach { case ((_, ql, q, qn), heap) =>
              if (qn > 0.0 && q.length == v.length && lab != ql) {
                var d = 0.0
                var j = 0
                while (j < v.length) { d += v(j) * q(j); j += 1 }
                val cos = BigDecimal(d / (nrm * qn))
                  .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
                if (heap.size < k) heap.enqueue((cos, id))
                else if (worstFirst.lt((cos, id), heap.head)) {
                  heap.dequeue(); heap.enqueue((cos, id))
                }
              }
            }
          }
        }
        qs.zip(heaps).iterator.flatMap { case ((qid, _, _, _), heap) =>
          heap.iterator.map { case (cos, id) => (qid, id, cos) }
        }
      }
      .toDF("query_id", "vec_id", "cos")
    partials
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** kNN label transfer (the classic "classify by nearest labeled
    * examples" serving path): each query vector takes the MAJORITY label
    * among its k nearest training vectors by cosine, ties → smaller
    * label. Returns `(query_id, pred_label, votes)`, one row per query.
    *
    * Plan shape: neighbor search is [[batchTopK]] — ONE training-corpus
    * scan for the whole batch, bounded per-partition partial top-k — and
    * the B·k winner set then re-joins the label table with the TINY side
    * broadcast, so the corpus is never shuffled; the vote itself is a
    * B·k-row aggregate + window argmax. At 100 TB the cost is exactly one
    * labeled-corpus scan per serving batch. */
  def knnClassify(train: DataFrame, idCol: String, vecCol: String, labelCol: String,
                  queries: Seq[(Long, Array[Double])], k: Int): DataFrame = {
    val nn = batchTopK(train, idCol, vecCol, queries, k)
    val votes = train.select(col(idCol).cast("long").as("vec_id"),
        col(labelCol).cast("long").as("label"))
      .join(broadcast(nn.select(col("query_id"), col("vec_id"))), Seq("vec_id"))
      .groupBy(col("query_id"), col("label")).agg(count(lit(1)).as("votes"))
    votes.withColumn("_rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("label"))))
      .filter(col("_rk") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by
    * cluster-then-prune. Embeddings are bucketed by their IVF centroid
    * assignment, near-duplicate pairs (cos ≥ `minCos`) are generated only
    * WITHIN buckets (candidate generation is centroid-bounded, never
    * all-pairs — [[nearDupPairsIvf]], per-list cap included), duplicates
    * are grouped by connected components, and each group keeps its
    * smallest id. Returns `(vec_id, keep_id, kept)` for every vector in
    * a near-dup group (`kept` marks the survivor); vectors with no
    * semantic duplicate are implicitly all keepers and not listed —
    * exactly [[graft.ops.Dedup.exact]]'s keeper contract, lifted from
    * byte equality to embedding-space similarity. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Double]], minCos: Double): DataFrame = {
    val pairs = nearDupPairsIvf(emb, idCol, vecCol, centroids, minCos)
    Dedup.connectedComponents(pairs)
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("component"))))
      .select(col("doc_id").as("vec_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  // ---- IVF (inverted-file) ANN ----

  import graft.Num.r6

  /** Left-to-right fold — the custom DotProduct expression's exact
    * summation order, so driver-side training scores the same doubles the
    * serving expressions compute. */
  private def dotOrdered(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Driver twin of `greatest(centroidScores(...)).getField("l")`: argmax
    * cosine (safe centroid norm), ties → LARGER list id (struct greatest
    * compares (s, l) lexicographically). `norms` are precomputed once per
    * Lloyd step — centroids are fixed within a step, so per-row recompute
    * would be pure waste, the same reason l2Scores bakes ‖c‖²/2 into the
    * serving expression. */
  private def assignCosine(x: Array[Double], cents: Array[Array[Double]],
                           norms: Array[Double]): Int = {
    var best = Double.NegativeInfinity; var bestL = 0
    var l = 0
    while (l < cents.length) {
      val s = dotOrdered(x, cents(l)) / norms(l)
      if (s >= best) { best = s; bestL = l }
      l += 1
    }
    bestL
  }

  /** Safe cosine denominators for a centroid set: ‖c‖, with 1.0 for the
    * all-zero centroid (its dot is 0 either way; dividing by 0 is the
    * ANSI hazard the serving twin also guards). */
  private def safeNorms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) 1.0 else n
    }

  /** One deterministic Lloyd pass over in-memory rows: per-list per-dim
    * mean (sample order — fixed, since rows arrive hash-sorted), r6 grid;
    * empty lists keep their previous centroid so the model stays exactly
    * k wide and ids never renumber mid-training. */
  private def lloydStep(rows: Array[Array[Double]], cents: Array[Array[Double]],
                        assign: Array[Double] => Int): Array[Array[Double]] = {
    val dim = cents(0).length
    val sums = Array.fill(cents.length)(new Array[Double](dim))
    val counts = new Array[Long](cents.length)
    rows.foreach { x =>
      val l = assign(x)
      counts(l) += 1
      var d = 0
      while (d < dim) { sums(l)(d) += x(d); d += 1 }
    }
    cents.indices.toArray.map { l =>
      if (counts(l) == 0L) cents(l)
      else sums(l).map(s => r6(s / counts(l)))
    }
  }

  /** Deterministic IVF training, SAMPLE-BOUNDED and DRIVER-EXECUTED: the
    * training set is the `trainN` vectors with the smallest xxhash64(id) —
    * a fixed-size, partition-order-independent sample collected by ONE
    * TakeOrdered job (trainN·dim doubles ≈ 2 MB — model-parameter-class
    * driver traffic). That one sampling scan is the ONLY job training
    * runs: the Lloyd loop itself is plain driver-side arithmetic. The
    * distributed loop this replaces cost the same at sf0.01 and sf0.1 —
    * its time was per-iteration Catalyst planning + codegen of
    * nlist-wide greatest-of-structs expressions, a fixed overhead that
    * sampling could never cut — while at 100 TB BOTH shapes scan the
    * corpus once; this one just stops paying the fixed cost per
    * iteration. Seeds are the nlist smallest-hash vectors (the sample's
    * prefix — unchanged from full-corpus training); assignment replicates
    * the serving expressions' exact math (ordered-fold dot, safe norms,
    * ties → larger list id); means land on the r6 grid so the model is
    * bit-stable across runs. Returns O(nlist·dim) doubles. */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, iters: Int = 1,
                   trainN: Int = 4096): Array[Array[Double]] = {
    require(trainN >= nlist, s"trainN=$trainN must be >= nlist=$nlist")
    val v = col(vecCol).cast("array<double>")
    val sample = emb.select(v.as("vec"), xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(trainN)
      .collect().map(_.getSeq[Double](0).toArray)
    // fail degenerate corpora loudly: downstream treats list_id as an
    // exactly-nlist-wide partition key, so a silently narrower model (or
    // an AIOOBE from an empty seed set inside the Lloyd loop) is worse
    // than a clear error here
    require(sample.length >= nlist,
      s"IVF training needs >= nlist=$nlist vectors, corpus has ${sample.length}")
    var cents = sample.take(nlist)
    for (_ <- 0 until iters) {
      val norms = safeNorms(cents)
      cents = lloydStep(sample, cents, assignCosine(_, cents, norms))
    }
    cents
  }

  /** The (cosine-to-centroid, list) structs shared by every IVF consumer —
    * assignment, top-2 probing, streaming — so a scoring change can never
    * desynchronize batch and stream list assignments. */
  private def centroidScores(v: Column, centroids: Array[Array[Double]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, l) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      // an all-zero centroid (zero-vector seed) scores 0 against everything
      // either way; dividing by its 0 norm would be an ANSI hard error
      val safeCn = if (cn == 0.0) 1.0 else cn
      struct((dotLit(v, c) / lit(safeCn)).as("s"), lit(l).as("l"))
    }

  /** Assign each vector to its nearest (max-cosine) centroid list. The
    * centroid matrix enters the plan as literals — nlist codegen'd dot
    * products per row, no join, no shuffle. `list_id` is the storage
    * partition / cluster key at scale. */
  def withIvfList(emb: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    emb.withColumn("list_id", greatest(centroidScores(v, centroids): _*).getField("l"))
  }

  /** IVF ANN top-k: score the query against all centroids driver-side
    * (O(nlist·dim)), scan ONLY the `nprobe` nearest lists, exact cosine
    * within. Unlike hyperplane LSH (whose Hamming-ball probe set covers
    * ~35% of the corpus at 6 planes), the probed fraction here is
    * ~nprobe/nlist and tunable independently of recall via training
    * quality — with list_id as a storage partition key the other lists
    * are never read at all. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String, q: Array[Double],
              k: Int, centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    // a zero-norm query has no cosine: NaN probe scores would silently
    // pick an arbitrary probe set (the centroid side is guarded below) —
    // fail loudly instead, matching cosineToQuery's null-out contract
    require(qn > 0, "ivfTopK: query vector has zero norm — cosine undefined")
    // ties rank the LARGER list id first, matching the assignment rule
    // (greatest over (s, l) structs): with duplicated centroids — which
    // empty-list preservation makes legitimate — vectors live in the
    // larger-id list, so the probe must prefer it too
    val probes = centroids.zipWithIndex.map { case (c, l) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      (c.zip(q).map { case (a, b) => a * b }.sum / (cn * qn), l)
    }.sortBy { case (cos, l) => (-cos, -l) }.take(nprobe).map(_._2)
    val listed = withIvfList(emb, vecCol, centroids)
      .filter(col("list_id").isin(probes.toSeq: _*))
    bruteForceTopK(listed, idCol, vecCol, q, k)
  }

  /** Scalar int8 quantization of an embedding column in long form:
    * per-dimension min/max over the corpus (one tiny aggregate that
    * broadcasts back), each component mapped to 0..255 by
    * `min(255, floor((x−mn)/(mx−mn)·256))`. Floor keeps both engines
    * bit-identical (no rounding-mode edge), constant dimensions map to 0.
    * This is the memory path for ANN at scale — a 100 TB f32 corpus
    * becomes 25 TB of int8 codes scanned 4× faster, with the (id, dim)
    * long form writable as the quantized store directly. */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val comps = emb.select(col(idCol).as("vec_id"),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
    val ranges = comps.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    comps.join(broadcast(ranges), Seq("dim"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("mx") === col("mn"), 0L)
          .otherwise(least(lit(255.0), floor((col("x") - col("mn"))
            / (col("mx") - col("mn")) * 256.0)).cast("long")).as("q"))
  }

  // ---- Product quantization (PQ) ----

  /** L2 k-means assignment scores as (score, l) structs: argmin_c |v−c|² =
    * argmax_c (v·c − |c|²/2) since |v|² is constant per row — so assignment
    * is the same codegen'd greatest-over-structs shape as [[centroidScores]]
    * with no per-centroid norm computation on the data side. */
  private def l2Scores(v: Column, cents: Array[Array[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, l) =>
      val half = c.map(x => x * x).sum / 2.0
      struct((dotLit(v, c) - lit(half)).as("s"), lit(l).as("l"))
    }

  /** Product-quantization training: split the vector into `m` contiguous
    * subspaces and k-means each independently → m codebooks of `ksub`
    * centroids (m·ksub·(dim/m) doubles — a model parameter). THE memory
    * path for ANN at 100 TB: encoded vectors are m small codes
    * (m·log2(ksub) bits ≈ 4-8 bytes) instead of dim·4 — a 64-dim f32
    * corpus compresses 32×, far past int8's 4×, so a 100 TB corpus's codes
    * fit in ~3 TB of cluster memory for in-memory serving. For cosine
    * semantics, train/encode over L2-NORMALIZED vectors so inner-product
    * ADC approximates cosine.
    *
    * SAMPLE-BOUNDED and DRIVER-EXECUTED like [[ivfCentroids]]: ONE
    * TakeOrdered job collects the `trainN` smallest-xxhash64(id) rows
    * (≈2 MB — model-parameter-class driver traffic), then every subspace's
    * Lloyd loop is plain driver arithmetic. The distributed loop this
    * replaces spent its time compiling the m·ksub greatest-of-structs
    * assignment expression per iteration — a fixed planning/codegen cost
    * identical at sf0.01 and sf0.1 that sampling could never cut. At
    * 100 TB both shapes scan the corpus once (the sample); training is
    * otherwise corpus-size-independent. Seeds are the ksub smallest-hash
    * rows (the sample's prefix, shared across subspaces and sliced
    * driver-side); assignment replicates [[pqEncode]]'s exact scoring
    * (ordered-fold dot − ‖c‖²/2, ties → larger code); means land on the
    * r6 grid; empty clusters keep their previous centroid. */
  def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, ksub: Int = 16, iters: Int = 2,
              trainN: Int = 4096): Array[Array[Array[Double]]] = {
    require(trainN >= ksub, s"trainN=$trainN must be >= ksub=$ksub")
    val rows = emb.select(col(vecCol).cast("array<double>").as("vec"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(trainN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.length >= ksub,
      s"PQ training needs >= ksub=$ksub vectors, corpus has ${rows.length}")
    pqTrainRows(rows, m, ksub, iters)
  }

  /** The driver-side per-subspace Lloyd core shared by [[pqTrain]] (raw
    * vectors) and [[ivfPqTrain]] (IVF residuals). */
  private def pqTrainRows(rows: Array[Array[Double]], m: Int, ksub: Int,
                          iters: Int): Array[Array[Array[Double]]] = {
    val dim = rows(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val sd = dim / m
    (0 until m).toArray.map { j =>
      val sub = rows.map(_.slice(j * sd, (j + 1) * sd))
      var book = sub.take(ksub)
      for (_ <- 0 until iters) {
        val halves = book.map(c => c.map(x => x * x).sum / 2.0)
        book = lloydStep(sub, book, assignL2(_, book, halves))
      }
      book
    }
  }

  /** Driver twin of `greatest(l2Scores(...)).getField("l")`: argmax of
    * (dot − ‖c‖²/2) — the monotone L2-argmin transform — ties → larger
    * code, matching struct-greatest lexicographic order. `halves` are
    * the per-centroid ‖c‖²/2, precomputed once per Lloyd step. */
  private def assignL2(x: Array[Double], cents: Array[Array[Double]],
                       halves: Array[Double]): Int = {
    var best = Double.NegativeInfinity; var bestL = 0
    var l = 0
    while (l < cents.length) {
      val s = dotOrdered(x, cents(l)) - halves(l)
      if (s >= best) { best = s; bestL = l }
      l += 1
    }
    bestL
  }

  /** Encode vectors to PQ codes: per subspace, the argmin-L2 codebook
    * entry via the same greatest-over-structs argmax — m·ksub codegen'd
    * dot products per row, no join, no shuffle. Output (vec_id, codes)
    * IS the compressed store schema. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sd = codebooks(0)(0).length
    val codes = array(codebooks.zipWithIndex.map { case (cb, j) =>
      greatest(l2Scores(slice(v, j * sd + 1, sd), cb): _*).getField("l")
    }: _*)
    emb.select(col(idCol).as("vec_id"), codes.as("codes"))
  }

  /** PQ ANN via asymmetric distance computation (ADC): the query is NOT
    * quantized — per subspace, its exact dot with each of the `ksub`
    * centroids forms a lookup table (m·ksub doubles, computed driver-side,
    * entering codegen as array literals), and each row's score is m
    * `element_at` picks + adds over its codes. No vector data is read at
    * query time — the scan touches only the m-byte codes column, which is
    * the entire point at 100 TB. Deterministic: LUTs are exact driver
    * arithmetic, the fold is a fixed left-to-right sum, ties rank by id. */
  def pqTopK(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
             q: Array[Double], k: Int): DataFrame = {
    val sd = codebooks(0)(0).length
    val luts: Array[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) => x * q(j * sd + i) }.sum).toSeq
    }
    val score = luts.zipWithIndex.map { case (lut, j) =>
      element_at(typedlit(lut), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    codes.select(col("vec_id"), (round(score, 4) + 0.0).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  // ------------------------------------------------- IVF-PQ composite index
  // The production ANN architecture (FAISS `IVFx,PQy`): a coarse IVF
  // quantizer routes each vector to a list, PQ encodes the RESIDUAL
  // vec − centroid[list] — residuals are tighter-distributed than raw
  // vectors, so the same m bytes/vector quantize less error — and queries
  // ADC-scan only the probed lists. Over L2-normalized vectors with
  // inner-product ADC (the same cosine contract as [[pqTopK]]):
  //   score(v) = ⟨q, c_l⟩ + Σ_j LUT_j[code_j]   where LUT_j[k] = ⟨q_j, cb_j[k]⟩
  // — the list term is one literal-array pick, the residual term is the
  // plain PQ LUT sum, and neither reads the vector column at query time.
  // At 100 TB: list_id is the storage partition key (unprobed lists are
  // never scanned), codes are m bytes/vector, and training is one
  // TakeOrdered sample + driver Lloyd — corpus-size-independent.

  /** Train residual PQ codebooks against an existing IVF model. The same
    * `trainN`-row sample as [[pqTrain]]; each sample vector is assigned
    * driver-side with [[assignCosine]] (exact parity with
    * [[withIvfList]]'s greatest-of-structs rule, ties → larger list) and
    * its residual feeds the shared per-subspace Lloyd core. */
  def ivfPqTrain(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]],
                 m: Int = 8, ksub: Int = 16, iters: Int = 2,
                 trainN: Int = 4096): Array[Array[Array[Double]]] = {
    require(trainN >= ksub, s"trainN=$trainN must be >= ksub=$ksub")
    val rows = emb.select(col(vecCol).cast("array<double>").as("vec"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(trainN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.length >= ksub,
      s"IVF-PQ training needs >= ksub=$ksub vectors, corpus has ${rows.length}")
    val norms = safeNorms(centroids)
    val residuals = rows.map { x =>
      val c = centroids(assignCosine(x, centroids, norms))
      Array.tabulate(x.length)(i => x(i) - c(i))
    }
    pqTrainRows(residuals, m, ksub, iters)
  }

  /** Encode vectors as (vec_id, list_id, codes): one scan, no join — the
    * centroid matrix and codebooks enter the plan as literals, the
    * residual is an in-plan `transform`, and each subspace's code is the
    * same greatest-of-structs argmin as [[pqEncode]]. The output IS the
    * compressed store schema, partitionable by `list_id`. */
  def ivfPqEncode(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val centsLit = typedlit(centroids.map(_.toSeq).toSeq)
    val sd = codebooks(0)(0).length
    val listed = withIvfList(emb, vecCol, centroids)
    val resid = transform(v,
      (x, i) => x - element_at(element_at(centsLit, col("list_id") + 1), i + 1))
    val codes = array(codebooks.zipWithIndex.map { case (cb, j) =>
      greatest(l2Scores(slice(col("_resid"), j * sd + 1, sd), cb): _*).getField("l")
    }: _*)
    listed.withColumn("_resid", resid)
      .select(col(idCol).as("vec_id"), col("list_id"), codes.as("codes"))
  }

  /** IVF-PQ ADC top-k over the probed lists only. Probe ranking replicates
    * [[ivfTopK]] (cosine to centroid, ties → larger list); the per-list
    * inner-product constant and the residual LUTs are exact driver
    * arithmetic entering codegen as array literals. The scan reads only
    * (list_id, codes) — never a vector — and the `isin` probe filter is a
    * partition-pruning predicate when the codes table is stored
    * partitioned by list_id. Deterministic: round(·,4) + id tiebreak. */
  def ivfPqTopK(codes: DataFrame, centroids: Array[Array[Double]],
                codebooks: Array[Array[Array[Double]]],
                q: Array[Double], k: Int, nprobe: Int = 4): DataFrame =
    ivfAdcTopK(codes, centroids, codebooks, q, q, k, nprobe, "ivfPqTopK")

  /** Shared IVF ADC core: probes + per-list inner-product constants use
    * the RAW query (the coarse quantizer lives in the original space);
    * the residual LUTs use `lutQ` — the raw query for plain IVF-PQ, the
    * ROTATED query for IVF-OPQ (codes live in the rotated residual
    * space; R orthonormal ⇒ ⟨q, v−c⟩ = ⟨Rq, R(v−c)⟩). */
  private def ivfAdcTopK(codes: DataFrame, centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]],
                         q: Array[Double], lutQ: Array[Double], k: Int,
                         nprobe: Int, who: String): DataFrame = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    // same zero-norm guard as ivfTopK: NaN probe cosines AND NaN LUT
    // entries would return an arbitrary ranking with no error
    require(qn > 0, s"$who: query vector has zero norm — cosine undefined")
    val probes = centroids.zipWithIndex.map { case (c, l) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      (c.zip(q).map { case (a, b) => a * b }.sum / ((if (cn == 0.0) 1.0 else cn) * qn), l)
    }.sortBy { case (cos, l) => (-cos, -l) }.take(nprobe).map(_._2)
    val ipConsts: Seq[Double] = centroids.map(c => dotOrdered(q, c)).toSeq
    val sd = codebooks(0)(0).length
    val luts: Array[Seq[Double]] = codebooks.zipWithIndex.map { case (cb, j) =>
      cb.map(c => c.zipWithIndex.map { case (x, i) => x * lutQ(j * sd + i) }.sum).toSeq
    }
    val residScore = luts.zipWithIndex.map { case (lut, j) =>
      element_at(typedlit(lut), element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val score = element_at(typedlit(ipConsts), col("list_id") + 1) + residScore
    codes.filter(col("list_id").isin(probes.toSeq: _*))
      .select(col("vec_id"), (round(score, 4) + 0.0).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** PCA-whitening of an embedding column — the standard retrieval
    * preprocessing (decorrelate + equalize variances so cosine/IP
    * geometry stops being dominated by a few high-variance directions).
    * Rides the exact-PCA machinery end to end: one CoMomentAgg pass for
    * the covariance, driver Jacobi eigen (dim×dim — parameter-sized),
    * components rescaled by 1/√(λ+ε), then ONE projection scan with
    * literal accumulators. Output long form (vec_id, comp, v) — the
    * whitened coordinates, population covariance ≈ I (tested). Not
    * SQL-expressible (eigendecomposition) → rows-only. */
  def whiten(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
             eps: Double = 1e-9): DataFrame =
    whitenApply(emb, idCol, vecCol,
      whitenModel(emb, idCol, vecCol, dim, eps))

  /** The whitening model alone (fit + 1/√(λ+ε) rescale) — exposed so the
    * generated oracle can embed THIS RUN's exact literals (the model is
    * bit-stable across partition orders: Pca.fit rounds its moment inputs
    * on the r6 grid before the driver-side eigensolve). */
  def whitenModel(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  eps: Double = 1e-9): graft.array.Pca.Model = {
    import graft.array.{Pca, ZMatrix}
    val cells = emb.select(col(idCol).cast("long").as("i"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "v")))
      .select(col("i"), col("j").cast("long").as("j"), col("v"))
    val n = emb.count()
    val model = Pca.fit(ZMatrix(cells), n, dim, dim)
    val scales = model.eigenvalues.map(l => 1.0 / math.sqrt(l + eps))
    Pca.Model(
      model.components.zip(scales).map { case (w, s) => w.map(_ * s) },
      model.eigenvalues,
      model.offsets.zip(scales).map { case (o, s) => o * s })
  }

  /** Apply a whitening model: ONE projection scan with literal
    * accumulators ([[graft.array.Pca.transform]]), long-form output. */
  def whitenApply(emb: DataFrame, idCol: String, vecCol: String,
                  model: graft.array.Pca.Model): DataFrame = {
    import graft.array.{Pca, ZMatrix}
    val cells = emb.select(col(idCol).cast("long").as("i"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("j", "v")))
      .select(col("i"), col("j").cast("long").as("j"), col("v"))
    Pca.transform(ZMatrix(cells), model).cells
      .select(col("i").as("vec_id"), col("j").as("comp"), col("v"))
  }

  /** The production TWO-STAGE serving shape: ADC over the codes picks
    * `refineK` candidates (reading only probed lists, m bytes/vector),
    * then ONLY those rows' full vectors are fetched (left-semi join) and
    * re-ranked by exact cosine. Refinement recall is provably >= the
    * ADC-only top-k's: every true neighbor the ADC top-k caught is in
    * the candidate set, and exact scoring cannot rank it below a
    * non-neighbor. At 100 TB the vector fetch is refineK point lookups,
    * not a scan. */
  def ivfPqTopKRefined(codes: DataFrame, emb: DataFrame, idCol: String,
                       vecCol: String, centroids: Array[Array[Double]],
                       codebooks: Array[Array[Array[Double]]],
                       q: Array[Double], k: Int, nprobe: Int = 4,
                       refineK: Int = 100): DataFrame = {
    val cand = ivfPqTopK(codes, centroids, codebooks, q, refineK, nprobe)
      .select(col("vec_id").as("_cand_id"))
    val sub = emb.join(cand, emb(idCol) === col("_cand_id"), "left_semi")
    bruteForceTopK(sub, idCol, vecCol, q, k)
  }

  // --------------------------------------------------- IVF-OPQ rotation
  /** OPQ rotation for the IVF-PQ stack (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the parametric / eigenvalue-allocation
    * variant): PCA-rotate the IVF residual space and hand principal
    * directions to the m code subspaces by EIGENVALUE ALLOCATION (the
    * next-largest eigenvalue goes to the subspace with the smallest
    * variance product), so every subspace quantizes a balanced share of
    * residual variance instead of whatever the raw coordinate order put
    * there — the standard recall lever at FIXED code size.
    *
    * Training is driver-side on the same trainN sample as [[ivfPqTrain]]:
    * one dim² second-moment pass (NOT mean-centered — ADC is a pure inner
    * product about the origin, so the map must stay purely linear) and a
    * Jacobi eigendecomposition (the emb_whiten machinery). R is
    * orthonormal, so ⟨q, v−c⟩ = ⟨Rq, R(v−c)⟩ exactly — query-side ADC
    * just builds its LUTs from the rotated query. Corpus-size-independent.
    *
    * Returns (R row-major — rotated(i) = Σ_k R(i)(k)·x(k) — and the
    * codebooks trained on rotated residuals). */
  def ivfOpqTrain(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]],
                  m: Int = 8, ksub: Int = 16, iters: Int = 2,
                  trainN: Int = 4096)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(trainN >= ksub, s"trainN=$trainN must be >= ksub=$ksub")
    val rows = emb.select(col(vecCol).cast("array<double>").as("vec"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(trainN)
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.length >= ksub,
      s"IVF-OPQ training needs >= ksub=$ksub vectors, corpus has ${rows.length}")
    val norms = safeNorms(centroids)
    val residuals = rows.map { x =>
      val c = centroids(assignCosine(x, centroids, norms))
      Array.tabulate(x.length)(i => x(i) - c(i))
    }
    val dim = residuals(0).length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val mom = Array.tabulate(dim, dim) { (i, j) =>
      var s = 0.0; var r = 0
      while (r < residuals.length) { s += residuals(r)(i) * residuals(r)(j); r += 1 }
      s / residuals.length
    }
    val (evals, evecs) = graft.array.Pca.jacobiEigen(mom) // vectors in COLUMNS
    val order = evals.indices.sortBy(i => -evals(i))
    val sd = dim / m
    val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val logp = Array.fill(m)(0.0)
    for (e <- order) {
      val b = (0 until m).filter(buckets(_).size < sd).minBy(b => (logp(b), b))
      buckets(b) += e
      logp(b) += math.log(math.max(evals(e), 1e-12))
    }
    val rot = Array.tabulate(dim, dim) { (out, k) =>
      evecs(k)(buckets(out / sd)(out % sd))
    }
    val rotated = residuals.map(r => Array.tabulate(dim)(i => dotOrdered(rot(i), r)))
    (rot, pqTrainRows(rotated, m, ksub, iters))
  }

  /** Encode (vec_id, list_id, codes) over ROTATED residuals — the same
    * one-scan / no-join shape as [[ivfPqEncode]]; the rotation is dim²
    * literal multiply-adds fused into the same projection (staging-time
    * cost — queries still scan only the m-byte codes column). */
  def ivfOpqEncode(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Double]],
                   rotation: Array[Array[Double]],
                   codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val centsLit = typedlit(centroids.map(_.toSeq).toSeq)
    val sd = codebooks(0)(0).length
    val listed = withIvfList(emb, vecCol, centroids)
    val resid = transform(v,
      (x, i) => x - element_at(element_at(centsLit, col("list_id") + 1), i + 1))
    // the rotation is ONE codegen'd MatVec (X-pattern kernel) — dim²
    // literal-term expressions fall out of whole-stage codegen and run
    // interpreted (measured ~7 s extra on the sf0.1 encode)
    val rotCol = graft.functions.VectorExprs.matVec(col("_resid"), rotation)
    val codes = array(codebooks.zipWithIndex.map { case (cb, j) =>
      greatest(l2Scores(slice(col("_rot"), j * sd + 1, sd), cb): _*).getField("l")
    }: _*)
    listed.withColumn("_resid", resid).withColumn("_rot", rotCol)
      .select(col(idCol).as("vec_id"), col("list_id"), codes.as("codes"))
  }

  /** IVF-OPQ ADC top-k: identical plan shape and cost to [[ivfPqTopK]]
    * (same probes, same m LUT picks per row, same partition-pruning
    * `isin` filter) — only the LUTs are built from the rotated query. */
  def ivfOpqTopK(codes: DataFrame, centroids: Array[Array[Double]],
                 rotation: Array[Array[Double]],
                 codebooks: Array[Array[Array[Double]]],
                 q: Array[Double], k: Int, nprobe: Int = 4): DataFrame = {
    val rq = Array.tabulate(rotation.length)(i => dotOrdered(rotation(i), q))
    ivfAdcTopK(codes, centroids, codebooks, q, rq, k, nprobe, "ivfOpqTopK")
  }

  /** Top-2 IVF lists per vector (primary + runner-up) via one array_sort
    * over the shared [[centroidScores]] structs — O(nlist log nlist) per
    * row on a parameter-sized array, no join. */
  private def withIvfTop2(emb: DataFrame, vecCol: String,
                          centroids: Array[Array[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sorted = array_sort(array(centroidScores(v, centroids): _*)) // ascending by (s, l)
    // single-centroid model: ANSI mode makes element_at(..., -2) a hard
    // error on a 1-element array — degrade to primary = runner-up instead
    val second = if (centroids.length >= 2) element_at(sorted, -2) else element_at(sorted, -1)
    emb.withColumn("list_id", element_at(sorted, -1).getField("l"))
      .withColumn("list2_id", second.getField("l"))
  }

  /** Embedding near-dup with IVF-pruned candidates: each vector is
    * multi-assigned to its top-2 lists and pairs are generated within a
    * SHARED probe list (both sides exploded — "x's top-2 contains y's
    * primary" is not symmetric, so a one-sided probe would miss about half
    * the boundary-straddling configurations; sharing any of the 2×2 list
    * combinations is symmetric). Duplicate candidates collapse in the
    * final (id1, id2) aggregate.
    *
    * The quadratic term is bounded the same way minhash/simhash bound a
    * bucket (maxBucket): a per-list row_number cap — sorted by doc_id, so
    * truncation is deterministic — keeps one hot list (a dense embedding
    * cluster, the NORM in near-dup corpora) from degenerating to
    * (N/nlist)² pairs. The cap runs as a streaming sort-window (spills;
    * never buffers the list), and only THEN does a single capped-bucket
    * aggregation (buffer ≤ maxList vectors) emit the in-list cross
    * product — one corpus scan, no self-join. list_id remains the storage
    * partition key, so candidate generation co-locates with the quantized
    * store. Rows-only entry: the centroid training loop is not
    * SQL-expressible (recall vs exact pairs is scalatest-asserted). */
  def nearDupPairsIvf(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[Array[Double]], minCos: Double,
                      maxList: Int = 1000): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    // array_distinct: with a single-centroid (or duplicated-centroid)
    // model, primary == runner-up — an undeduped explode would emit the
    // same (doc, probe) row twice, consuming two cap slots per doc and
    // quadrupling pair generation
    val probed = withIvfTop2(emb, vecCol, centroids)
      .select(col(idCol).as("doc_id"), v.as("vec"), norm2(v).as("nrm"),
        explode(array_distinct(array(col("list_id"), col("list2_id")))).as("probe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe")).orderBy(col("doc_id"))))
      .filter(col("rk") <= maxList)
    probed.groupBy(col("probe"))
      .agg(collect_list(struct(col("doc_id"), col("vec"), col("nrm"))).as("es"))
      .filter(size(col("es")) > 1)
      .select(explode(col("es")).as("l"), col("es"))
      .select(col("l"), explode(col("es")).as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        try_divide(dot(col("l.vec"), col("r.vec")),
          col("l.nrm") * col("r.nrm")).as("cos")) // null for zero-norm rows
      .filter(col("cos") >= minCos)
      .groupBy(col("id1"), col("id2")).agg(round(max(col("cos")), 4).as("cos"))
  }

  /** Full-corpus kNN GRAPH (the scanpy `pp.neighbors` shape): every node's
    * k nearest neighbors by cosine, excluding itself. Exact kNN for N nodes
    * is an N×N problem; candidates are bounded to the node's top-2 IVF
    * lists — the same multi-probe+capped-list shape as [[nearDupPairsIvf]]
    * (one corpus scan, no self-join, per-list cap keeps a hot list from
    * going quadratic), but emitting DIRECTED edges: (src, dst) and
    * (dst, src) are both candidates, each ranked within its own src
    * partition. Cross-probe duplicates collapse in a (src, dst) max-agg
    * before the per-src window ranks the k best. At 100 TB: list_id is the
    * storage partition key, candidate generation co-locates with the
    * store, and the final rank is a window over ≤ maxList·2 candidates per
    * node — never the corpus. Rows-only entry (IVF training loop is not
    * SQL); recall vs the exact graph is scalatest-asserted, and the exact
    * twin `graph_knn` (batchTopK + excludeSelf) is the oracle-checked
    * path. */
  def knnGraphIvf(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Double]], k: Int,
                  maxList: Int = 1000): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val probed = withIvfTop2(emb, vecCol, centroids)
      .select(col(idCol).as("doc_id"), v.as("vec"), norm2(v).as("nrm"),
        explode(array_distinct(array(col("list_id"), col("list2_id")))).as("probe"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("probe")).orderBy(col("doc_id"))))
      .filter(col("rk") <= maxList)
    probed.groupBy(col("probe"))
      .agg(collect_list(struct(col("doc_id"), col("vec"), col("nrm"))).as("es"))
      .filter(size(col("es")) > 1)
      .select(explode(col("es")).as("l"), col("es"))
      .select(col("l"), explode(col("es")).as("r"))
      .filter(col("l.doc_id") =!= col("r.doc_id")) // directed; no self-loop
      .select(col("l.doc_id").as("src"), col("r.doc_id").as("dst"),
        try_divide(dot(col("l.vec"), col("r.vec")),
          col("l.nrm") * col("r.nrm")).as("cos")) // null for zero-norm rows
      .filter(col("cos").isNotNull)
      // a pair sharing BOTH probe lists is generated twice — collapse
      // before ranking so it can't occupy two of src's k slots
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), (round(col("cos"), 4) + 0.0).as("cos"))
  }

  /** Mutual-kNN restriction of a directed kNN edge set: keep (a, b) only
    * when b ∈ kNN(a) AND a ∈ kNN(b) — the symmetrization scanpy/UMAP
    * apply before clustering, which drops hub-pointing asymmetric edges.
    * One self-join of the edge set against its own transpose (edges are
    * corpus·k rows — graph-sized, not corpus²-sized), emitted as
    * unordered (id1 < id2) pairs ready for
    * [[graft.ops.Dedup.connectedComponents]]. */
  def mutualEdges(edges: DataFrame): DataFrame =
    mutualEdgesWeighted(edges.withColumn("_w1", lit(1L)), "_w1")
      .select(col("id1"), col("id2"))

  /** Weighted [[mutualEdges]]: keep the forward edge's weight column on
    * the surviving mutual pairs (cosine is symmetric and both directions
    * carry the same 4dp-rounded value, so forward's is THE weight). */
  def mutualEdgesWeighted(edges: DataFrame, wCol: String): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"), col(wCol).as("_w"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    fwd.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id1"), col("dst").as("id2"), col("_w").as("w"))
  }

  /** Community detection by synchronous weighted label propagation
    * (Raghavan et al. 2007) over an unordered mutual edge set `(id1, id2,
    * w: LONG)` — the Leiden-quality upgrade over connected components: a
    * single bridge edge between two dense communities no longer merges
    * them, because each node adopts the label carrying the LARGEST total
    * neighbor weight (tie → smallest label), and one bridge vote loses to
    * the in-community majority.
    *
    * Determinism contract: weights are INTEGERS (callers pass 4dp cosine
    * × 10⁴), so neighbor-weight sums are exact longs — no float-sum order
    * sensitivity — and the (Σw desc, label asc) argmax is a total order.
    * Synchronous rounds with a FIXED count make the output a pure
    * function of the edge set (matching the DuckDB recursive-CTE oracle
    * round for round) even on graphs where LPA oscillates.
    *
    * Shape per round (a Pregel superstep in DataFrame form): one shuffle
    * join on dst + a (src, label) partial-combined sum + a src-keyed
    * min(struct) argmax — both aggregates land on the same src hash
    * partitioning, no window sort. Edges are corpus·k rows; nothing is
    * ever corpus²-sized. The `rounds` plans are unrolled into one lazy
    * lineage (fine at 10); a 1000-executor run at higher round counts
    * would checkpoint every few supersteps to cap lineage depth. */
  def labelPropagate(mut: DataFrame, rounds: Int = 10,
                     localEdgeThreshold: Long = 5000000L): DataFrame = {
    val edges = mut.select(col("id1").as("src"), col("id2").as("dst"), col("w"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst"), col("w")))
      // both the node seed and every superstep join read the edge set —
      // materialize it once instead of replaying its upstream lineage
      // (kNN scoring or an IVF pipeline) 2·rounds+1 times
      .localCheckpoint()
    // dual regime (the louvainRefine/spectralEmbed precedent): Long sums
    // + the same (−ws, lbl) argmax are order-free, so the driver twin is
    // bit-equal on broadcast-class graphs and removes 10 supersteps of
    // job-launch overhead; the loop below remains the at-scale path
    if (edges.count() <= localEdgeThreshold)
      return lpaLocal(mut.sparkSession, edges, rounds)
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (r <- 1 to rounds) {
      labels = edges
        .join(labels.select(col("node").as("dst"), col("label").as("_lbl")), Seq("dst"))
        .groupBy(col("src"), col("_lbl")).agg(sum(col("w")).as("_ws"))
        .groupBy(col("src")).agg(min(struct(-col("_ws"), col("_lbl"))).as("_top"))
        .select(col("src").as("node"), col("_top._lbl").as("label"))
      // bound lineage depth: without a periodic cut, Catalyst re-analyzes
      // a plan that doubles in operator count every few supersteps, and
      // at cluster scale a lost executor would recompute the whole chain.
      // The label frame is (node, label) — the cheapest thing to pin.
      if (r % 5 == 0 && r < rounds) labels = labels.localCheckpoint(false)
    }
    labels
  }

  /** Driver twin of [[labelPropagate]] for broadcast-class graphs: same
    * weighted-majority argmax (Long sums, (−ws, lbl) lexicographic min),
    * bit-equal by construction and differential spec. */
  private def lpaLocal(spark: org.apache.spark.sql.SparkSession,
                       edgesDf: DataFrame, rounds: Int): DataFrame = {
    import spark.implicits._
    val es = edgesDf.select(col("src"), col("dst"), col("w"))
      .as[(Long, Long, Long)].collect()
    var labels: Map[Long, Long] = es.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val ws = collection.mutable.HashMap.empty[(Long, Long), Long]
      es.foreach { case (s, t, w) =>
        val l = labels(t)
        ws((s, l)) = ws.getOrElse((s, l), 0L) + w
      }
      val best = collection.mutable.HashMap.empty[Long, (Long, Long)]
      ws.foreach { case ((s, l), sw) =>
        val cur = best.get(s)
        if (cur.isEmpty || sw > cur.get._1 ||
            (sw == cur.get._1 && l < cur.get._2)) best(s) = (sw, l)
      }
      labels = labels.map { case (n, _) => n -> best(n)._2 }
    }
    labels.toSeq.sorted.toDF("node", "label")
  }

  /** Driver twin of [[pageRank]] / [[personalizedPageRank]]: the same
    * nonneg-Long floor arithmetic per round (r div k shares, damped
    * base + (85·Σ) div 100), bit-equal by construction and spec.
    * `seeds` empty = uniform PageRank. */
  private def prLocal(spark: org.apache.spark.sql.SparkSession,
                      edgesDf: DataFrame, seeds: Seq[Long], rounds: Int,
                      scale: Long): DataFrame = {
    import spark.implicits._
    val es = edgesDf.select(col("src"), col("dst"))
      .as[(Long, Long)].collect()
    val degM = collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (s, _) => degM(s) = degM.getOrElse(s, 0L) + 1L }
    val seedSet = seeds.toSet
    val base =
      if (seeds.isEmpty) (15L * scale) / (100L * degM.size)
      else (15L * scale) / (100L * seeds.length)
    var ranks: Map[Long, Long] =
      if (seeds.isEmpty) degM.keys.map(n => n -> scale / degM.size).toMap
      else degM.keys.map(n =>
        n -> (if (seedSet(n)) scale / seeds.length else 0L)).toMap
    for (_ <- 1 to rounds) {
      val contrib = ranks.map { case (n, r) => n -> r / degM(n) }
      val s = collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (src, dst) =>
        s(src) = s.getOrElse(src, 0L) + contrib(dst)
      }
      ranks = ranks.map { case (n, _) =>
        val b = if (seeds.isEmpty || seedSet(n)) base else 0L
        n -> (b + (85L * s.getOrElse(n, 0L)) / 100L)
      }
    }
    ranks.toSeq.sorted.toDF("node", "rank_e12")
  }

  /** PageRank (Page et al. 1999) over an unordered mutual edge set
    * `(id1, id2, w)` treated as an unweighted undirected graph (each
    * mutual pair = two directed edges), in EXACT fixed-point integer
    * arithmetic so the unrolled DuckDB oracle matches hash-exactly:
    * ranks live in 1e-12 units of probability mass, every per-edge share
    * is a nonneg BIGINT floor division (`div` here ≡ `//` there), and
    * the damping step is `base + (85·Σshares) div 100` with
    * base = (15·SCALE) div (100·N). Floors leak a few units of mass per
    * round — identically in both engines, so determinism is preserved
    * where float PageRank would drift by summation order.
    *
    * Shape per round (Pregel superstep): one dst-keyed shuffle join of
    * the node-sized rank frame into the edge set + one src-keyed sum —
    * edge-set-sized work, never corpus². Rank frame checkpointed every 5
    * rounds to cap lineage depth (same policy as [[labelPropagate]]).
    * The only driver traffic is the scalar N. Mutual-kNN graphs have no
    * dangling nodes (every node has degree ≥ 1 by construction), so no
    * dangling-mass redistribution term is needed. */
  def pageRank(mut: DataFrame, rounds: Int = 10,
               scale: Long = 1000000000000L,
               localEdgeThreshold: Long = 5000000L): DataFrame = {
    val edges = mut.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint()
    // dual regime (the louvainRefine precedent): identical floor
    // arithmetic on the driver for broadcast-class graphs
    if (edges.count() <= localEdgeThreshold)
      return prLocal(mut.sparkSession, edges, Seq.empty, rounds, scale)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .select(col("src").as("node"), col("k"))
    val n = deg.count() // node-count scalar: the one driver action
    require(n > 0, "pageRank: empty graph")
    val base = (15L * scale) / (100L * n)
    var ranks = deg.select(col("node"), lit(scale / n).as("r"))
    for (i <- 1 to rounds) {
      val contrib = ranks.join(deg, Seq("node"))
        .select(col("node").as("dst"), expr("r div k").as("_c"))
      ranks = edges.join(contrib, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("_c")).as("_s"))
        .select(col("src").as("node"),
          (lit(base) + expr("(85 * _s) div 100")).as("r"))
      if (i % 5 == 0 && i < rounds) ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("node"), col("r").as("rank_e12"))
  }

  /** PERSONALIZED PageRank (random walk with restart to a SEED set) —
    * the "related items to THESE nodes" serving query, and the
    * similarity measure graph-based recommenders rank by. Identical
    * fixed-point integer contract to [[pageRank]] (bit-replicable, no
    * floats): the only change is that the 15% teleport mass restarts at
    * the seeds instead of uniformly — non-seed nodes receive rank only
    * through walk mass. Same Pregel shape per round. */
  def personalizedPageRank(mut: DataFrame, seeds: Seq[Long], rounds: Int = 10,
                           scale: Long = 1000000000000L,
                           localEdgeThreshold: Long = 5000000L): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    val edges = mut.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint()
    if (edges.count() <= localEdgeThreshold)
      return prLocal(mut.sparkSession, edges, seeds, rounds, scale)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .select(col("src").as("node"), col("k"))
    val ns = seeds.length
    val base = (15L * scale) / (100L * ns)
    var ranks = deg.select(col("node"),
      when(col("node").isin(seeds: _*), lit(scale / ns)).otherwise(lit(0L)).as("r"))
    for (i <- 1 to rounds) {
      val contrib = ranks.join(deg, Seq("node"))
        .select(col("node").as("dst"), expr("r div k").as("_c"))
      ranks = edges.join(contrib, Seq("dst"))
        .groupBy(col("src")).agg(sum(col("_c")).as("_s"))
        .select(col("src").as("node"),
          (when(col("src").isin(seeds: _*), lit(base)).otherwise(lit(0L)) +
            expr("(85 * _s) div 100")).as("r"))
      if (i % 5 == 0 && i < rounds) ranks = ranks.localCheckpoint(false)
    }
    ranks.select(col("node"), col("r").as("rank_e12"))
  }

  /** L6r: EIGENVECTOR centrality (Bonacich 1972) — a node is central in
    * proportion to its neighbors' centrality; on the mutual-kNN graph it
    * surfaces the densest similarity neighborhoods (contrast PageRank's
    * degree-divided walk mass, which flattens hubs). Power iteration in
    * EXACT fixed-point integers so the unrolled DuckDB oracle matches
    * hash-exactly: weights clamp to ≥1 (Perron–Frobenius positivity —
    * 4dp-cos weights are positive on any real mutual edge set; the clamp
    * makes the contract total), scores live in 1e-12 units of the
    * max-normalized principal eigenvector, and each round renormalizes
    * by the BIGINT floor division  x' = y div max(1, max(y) div SCALE)
    * — both engines walk identical integers. Overflow bound (ANSI-safe):
    * per-term w·x ≤ 10⁴·2·SCALE = 2e16, so Long sums hold to degree
    * ~400; mutual-kNN degree is ≤ k. Per round one dst join + one
    * src-keyed aggregate (the Pregel shape) + ONE 1-row max aggregate
    * entering via crossJoin (the accepted scalar pattern). Same dual
    * regime as [[pageRank]]. */
  def eigenCentrality(mut: DataFrame, rounds: Int = 10,
                      scale: Long = 1000000000000L,
                      localEdgeThreshold: Long = 5000000L): DataFrame = {
    val wPos = greatest(col("w"), lit(1L))
    val edges = mut
      .select(col("id1").as("src"), col("id2").as("dst"), wPos.as("w"))
      .unionByName(mut
        .select(col("id2").as("src"), col("id1").as("dst"), wPos.as("w")))
      .localCheckpoint()
    if (edges.count() <= localEdgeThreshold)
      return evLocal(mut.sparkSession, edges, rounds, scale)
    var x = edges.select(col("src").as("node")).distinct()
      .withColumn("x", lit(scale))
    for (i <- 1 to rounds) {
      val y = edges.join(x.select(col("node").as("dst"), col("x")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("w") * col("x")).as("y"))
      val q = y.agg(max(col("y")).as("_m"))
        .select(greatest(expr(s"_m div $scale"), lit(1L)).as("_q"))
      x = y.crossJoin(q)
        .select(col("src").as("node"), expr("y div _q").as("x"))
      if (i % 5 == 0 && i < rounds) x = x.localCheckpoint(false)
    }
    x.select(col("node"), col("x").as("ev_e12"))
  }

  /** Driver fast path of [[eigenCentrality]] — identical floor
    * arithmetic on collected edges (the prLocal precedent), bit-equal
    * below the edge threshold. */
  private def evLocal(spark: org.apache.spark.sql.SparkSession,
                      edgesDf: DataFrame, rounds: Int,
                      scale: Long): DataFrame = {
    import spark.implicits._
    val es = edgesDf.select(col("src"), col("dst"), col("w"))
      .as[(Long, Long, Long)].collect()
    var x: Map[Long, Long] = es.map(_._1).distinct.map(_ -> scale).toMap
    for (_ <- 1 to rounds) {
      val y = collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (s, d, w) => y(s) = y.getOrElse(s, 0L) + w * x(d) }
      val q = math.max(y.values.max / scale, 1L)
      x = y.map { case (n, v) => n -> v / q }.toMap
    }
    x.toSeq.sorted.toDF("node", "ev_e12")
  }

  /** L39: c-TF-IDF TOPIC KEYWORDS (the BERTopic reduction, Grootendorst
    * 2022): documents cluster by their embedding's IVF list; each
    * cluster is then described by its top terms under the class-based
    * TF-IDF  W(t,c) = tf_{t,c} · ln(1 + A/f_t)  with f_t the corpus
    * term frequency and A the average cluster token mass. The log is
    * the shared [[graft.functions.LnFix]] integer series —
    * ln((f_t+A)/f_t) = negLnMicro(f_t, f_t+A) — so scores are exact
    * BIGINTs and the per-cluster ranking is deterministic (ties →
    * term). Shapes: one assignment scan (nlist literal centroids), one
    * (list, term) aggregate, one vocab-sized term aggregate, ranks via
    * windows over per-list term sets. Returns (list_id, term, rank,
    * score_micro) for the top `topK` terms per cluster. */
  def topicKeywords(docs: DataFrame, idCol: String, textCol: String,
                    emb: DataFrame, vecIdCol: String, vecCol: String,
                    centroids: Array[Array[Double]], topK: Int = 5): DataFrame = {
    val assigned = withIvfList(emb, vecCol, centroids)
      .select(col(vecIdCol).as("doc_id"), col("list_id"))
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .join(assigned, Seq("doc_id"))
    // ONE corpus pass (r20): tf is the only aggregate that needs the
    // token-level rows; the corpus term frequency ft and the global
    // (token count, cluster count) header are exact roll-ups of tf —
    // the former shape re-ran the explode+join once per consumer (3×).
    // tf is (clusters × vocab)-sized — checkpoint-safe at any corpus
    // scale — and feeds three consumers below.
    val tf = toks.groupBy(col("list_id"), col("term"))
      .agg(count(lit(1)).as("_tf"))
      .localCheckpoint()
    val ft = tf.groupBy(col("term")).agg(sum(col("_tf")).as("_ft"))
    val g = tf.agg(coalesce(sum(col("_tf")), lit(0L)),
      countDistinct(col("list_id"))).head()
    val a = g.getLong(0) / math.max(1L, g.getLong(1)) // avg cluster mass
    val scored = graft.functions.LnFix.withNegLnMicro(
        tf.join(ft, Seq("term")), "_ft", s"_ft + $a", "_idf")
      .select(col("list_id"), col("term"), (col("_tf") * col("_idf")).as("score_micro"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("list_id"))
          .orderBy(col("score_micro").desc, col("term"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("list_id").cast("long").as("list_id"), col("term"),
        col("rank"), col("score_micro"))
  }

  /** Louvain-style synchronous local-move refinement (Blondel et al.
    * 2008, phase 1) over an unordered mutual edge set `(id1, id2, w:
    * LONG)`: each round, every node considers moving to a neighboring
    * community (or staying) and takes the modularity-argmax. The
    * per-node gain comparison is computed as ONE exact integer score —
    * for node u with degree k_u and candidate community c with total
    * degree T_c and u→c edge weight S_{u,c}:
    *
    *   score(c) = 2m·S_{u,c} − k_u·(T_c − [c = cur]·k_u)
    *
    * which is the standard ΔQ scaled by the positive constant 2m² and
    * shifted by the (candidate-independent) current-community terms, so
    * argmax(score) = argmax(ΔQ) with "stay" naturally included.
    * decimal(38,0) keeps the products exact at any graph weight the
    * 4dp-integer convention can produce (2m·S ≈ 1e28 at a 10¹⁴ total
    * weight), matching the DuckDB hugeint oracle bit for bit; ties break
    * to the smallest label.
    *
    * Moves are SEMI-synchronous on a fixed parity schedule: round r only
    * lets nodes with `node % 2 == r % 2` move. Fully synchronous local
    * moves oscillate — two singleton neighbors each jump into the
    * other's community and swap labels forever (observed on the bridged-
    * triangle fixture) — while the alternating half-steps break every
    * symmetric swap deterministically, the standard semi-synchronous LPA
    * remedy (Cordasco & Gargano 2010) with no RNG. Fixed rounds keep the
    * output a pure function of (edge set, seed labeling).
    *
    * Shape per round: one community-degree aggregate + one neighbor-
    * community aggregate + a node-keyed argmax — the same
    * Pregel-superstep cost as [[labelPropagate]], graph-sized, never
    * corpus². The only driver traffic is the scalar 2m. Seed from
    * singletons (classic Louvain) or from [[labelPropagate]] output to
    * refine. */
  def louvainRefine(mut: DataFrame, labels0: DataFrame, rounds: Int = 4,
                    localEdgeThreshold: Long = 5000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val edges = mut.select(col("id1").as("src"), col("id2").as("dst"), col("w"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst"), col("w")))
      .localCheckpoint()
    val deg = edges.groupBy(col("src").as("node")).agg(sum(col("w")).as("k"))
    val m2 = deg.agg(coalesce(sum(col("k")), lit(0L))).head().getLong(0) // = 2m
    // Dual regime (the connectedComponents/spectralEmbed precedent): a
    // broadcast-class graph runs the IDENTICAL exact-integer argmax on
    // the driver — every sum is a Long/BigInt (= the decimal(38,0)
    // aggregates, order-free), the argmax is the same (−score, c)
    // lexicographic min, the parity schedule the same `%` — BIT-EQUAL
    // (differential spec). Above the threshold the Pregel supersteps
    // below are the only shape that scales.
    if (edges.count() <= localEdgeThreshold)
      return louvainLocal(mut.sparkSession, edges, labels0, m2, rounds)
    var labels = labels0.select(col("node"), col("label"))
    for (r <- 1 to rounds) {
      // left joins with a 0-degree default: an ISOLATED seed node (label
      // present in labels0, no incident edge) must flow through every
      // round keeping its seed label — inner joins through `deg` (built
      // only from edges) silently dropped it from the output labeling
      val tot = labels.join(deg, Seq("node"), "left_outer")
        .groupBy(col("label").as("_c"))
        .agg(sum(coalesce(col("k"), lit(0L))).as("_t"))
      // self-loops (present on CONTRACTED levels, where they carry a
      // community's internal weight) count toward degrees k/T but never
      // toward S_{u,c}: a node's link to itself moves with it, so it is
      // candidate-independent — including it would bias "stay" by 2m·2w_self
      val kuc = edges.filter(col("src") =!= col("dst"))
        .join(labels.select(col("node").as("dst"), col("label").as("_c")), Seq("dst"))
        .groupBy(col("src"), col("_c")).agg(sum(col("w")).as("_s"))
      // the "stay" candidate must exist even when u has no neighbor left
      // in its own community (S = 0)
      val stay = labels.select(col("node").as("src"), col("label").as("_c"),
        lit(0L).as("_s"))
      val cand = kuc.unionByName(stay)
        .groupBy(col("src"), col("_c")).agg(sum(col("_s")).as("_s"))
      val scored = cand
        .join(labels.select(col("node").as("src"), col("label").as("_a")), Seq("src"))
        .join(deg.select(col("node").as("src"), col("k")), Seq("src"), "left_outer")
        .withColumn("k", coalesce(col("k"), lit(0L)))
        .join(tot, Seq("_c"))
        .withColumn("_score",
          lit(m2).cast(dec) * col("_s").cast(dec) -
            col("k").cast(dec) * (col("_t").cast(dec) -
              when(col("_c") === col("_a"), col("k")).otherwise(lit(0L)).cast(dec)))
      labels = scored.groupBy(col("src"))
        .agg(min(struct((col("_score") * -1).as("_n"), col("_c"))).as("_top"),
          max(col("_a")).as("_old")) // _a is constant per src
        .select(col("src").as("node"),
          when(pmod(col("src"), lit(2)) === lit((r - 1) % 2), col("_top._c"))
            .otherwise(col("_old")).as("label"))
      // the label frame feeds THREE consumers next round (community
      // degrees, neighbor labels, current labels): without a per-round
      // cut the lazy plan triples each superstep — 3^rounds analysis and
      // recompute — so pin the (node, label) frame, the cheapest thing
      // in the loop, every round. LAZY: the next round's first consumer
      // materializes it inside a job that runs regardless (the spectral
      // precedent — an eager cut burned a dedicated job per round)
      if (r < rounds) labels = labels.localCheckpoint(false)
    }
    labels
  }

  /** Driver twin of [[louvainRefine]]'s distributed superstep for
    * broadcast-class graphs: same community-degree totals, same
    * self-excluded neighbor sums, same exact-integer score and
    * (−score, c) argmax, same parity schedule — bit-equal by
    * construction and by the differential spec. `edgesDf` arrives
    * already direction-doubled. */
  private def louvainLocal(spark: org.apache.spark.sql.SparkSession,
                           edgesDf: DataFrame, labels0: DataFrame,
                           m2: Long, rounds: Int): DataFrame = {
    import spark.implicits._
    val es = edgesDf.select(col("src"), col("dst"), col("w"))
      .as[(Long, Long, Long)].collect()
    val degM = collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (s, _, w) => degM(s) = degM.getOrElse(s, 0L) + w }
    var labels = labels0.select(col("node"), col("label"))
      .as[(Long, Long)].collect().toMap
    val m2b = BigInt(m2)
    for (r <- 1 to rounds) {
      val tot = collection.mutable.HashMap.empty[Long, Long]
      labels.foreach { case (n, c) =>
        tot(c) = tot.getOrElse(c, 0L) + degM.getOrElse(n, 0L)
      }
      val kuc = collection.mutable.HashMap.empty[(Long, Long), Long]
      es.foreach { case (s, t, w) =>
        if (s != t) labels.get(t).foreach { c =>
          kuc((s, c)) = kuc.getOrElse((s, c), 0L) + w
        }
      }
      labels.foreach { case (n, c) => // the "stay" candidate (S may be 0)
        if (!kuc.contains((n, c))) kuc((n, c)) = 0L
      }
      val best = collection.mutable.HashMap.empty[Long, (BigInt, Long)]
      kuc.foreach { case ((src, c), s) =>
        val a = labels(src)
        val k = BigInt(degM.getOrElse(src, 0L))
        val score = m2b * s - k * (BigInt(tot(c)) - (if (c == a) k else BigInt(0)))
        val cur = best.get(src)
        // argmax score, ties to the smallest label = lexicographic min
        // on (−score, c), exactly the distributed struct-min
        if (cur.isEmpty || score > cur.get._1 ||
            (score == cur.get._1 && c < cur.get._2)) best(src) = (score, c)
      }
      labels = labels.map { case (n, old) =>
        // floorMod, not %: pmod(src, 2) in the distributed twin maps a
        // negative odd id to 1, Scala's -3 % 2 to -1 — floorMod keeps
        // the dual-regime bit-equal contract for any id sign
        n -> (if (java.lang.Math.floorMod(n, 2L) == (r - 1) % 2) best(n)._2 else old)
      }
    }
    labels.toSeq.sorted.toDF("node", "label")
  }

  /** MULTI-LEVEL Louvain (Blondel et al. 2008, the full algorithm):
    * phase 1 ([[louvainRefine]] — exact-integer ΔQ local moves from
    * singleton seeds) then phase 2 — contract each community to one
    * super-node and repeat phase 1 on the contracted graph. Contraction
    * is ONE (label, label) aggregate: both endpoints relabel through the
    * level's labeling, pairs canonicalize to (least, greatest), weights
    * sum; intra-community edges become SELF-LOOPS carrying the internal
    * weight, which [[louvainRefine]] counts toward degrees (each intra
    * edge contributes 2 to its community's degree — the standard
    * convention) but never toward move gains. The level count is FIXED
    * (the fixed-rounds determinism rule: the oracle unrolls levels
    * level-by-level, so the output is a pure function of the edge set) —
    * real corpora converge in 2–3 levels because the contracted graph is
    * community-sized, vanishing next to the level-0 cost.
    *
    * Scale shape: level 0 is phase-1's Pregel-superstep cost on the full
    * graph; every later level runs on a graph whose node count is the
    * previous level's COMMUNITY count — typically orders of magnitude
    * smaller — and the final mapping composes through community-sized
    * joins. Returns (node, label) over the ORIGINAL node ids. */
  def louvainMultiLevel(mut: DataFrame, levels: Int = 2,
                        rounds: Int = 4): DataFrame = {
    var edgesL = mut.select(col("id1"), col("id2"), col("w"))
    var mapping: DataFrame = null
    for (lvl <- 0 until levels) {
      val seed = edgesL.select(col("id1").as("node"))
        .unionByName(edgesL.select(col("id2").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      val labels = louvainRefine(edgesL, seed, rounds)
      mapping =
        if (mapping == null) labels
        else mapping.select(col("node"), col("label").as("_c"))
          .join(labels.select(col("node").as("_c"), col("label")), Seq("_c"))
          .select(col("node"), col("label"))
      if (lvl < levels - 1) {
        // phase 2: one aggregate builds the contracted graph; checkpoint
        // because the next level's refine reads it every superstep and
        // its lineage otherwise carries the whole previous level
        val l1 = labels.select(col("node").as("id1"), col("label").as("_c1"))
        val l2 = labels.select(col("node").as("id2"), col("label").as("_c2"))
        edgesL = edgesL.join(l1, Seq("id1")).join(l2, Seq("id2"))
          .select(least(col("_c1"), col("_c2")).as("id1"),
            greatest(col("_c1"), col("_c2")).as("id2"), col("w"))
          .groupBy(col("id1"), col("id2")).agg(sum(col("w")).as("w"))
          .localCheckpoint()
      }
    }
    mapping
  }

  /** Leiden's REFINEMENT step (Traag et al. 2019 — the well-connectedness
    * pass that distinguishes Leiden from Louvain): re-partition each
    * phase-1 community from singletons using ONLY its intra-community
    * edges, so every refined community is contained in (and internally
    * connected within) one phase-1 community — a badly-connected
    * community falls apart here instead of surviving contraction. Runs
    * the SAME exact-integer machinery as [[louvainRefine]] on the
    * intra-edge restriction (no cross-community candidate can exist, so
    * containment holds by construction); nodes with no intra edge stay
    * their own singleton (the isolated-seed rule). Deterministic, fixed
    * `rounds`. */
  def leidenRefinePartition(mut: DataFrame, labels: DataFrame,
                            rounds: Int = 2): DataFrame = {
    val l1 = labels.select(col("node").as("id1"), col("label").as("_c1"))
    val l2 = labels.select(col("node").as("id2"), col("label").as("_c2"))
    val intra = mut.join(l1, Seq("id1")).join(l2, Seq("id2"))
      .filter(col("_c1") === col("_c2"))
      .select(col("id1"), col("id2"), col("w"))
    val seed = labels.select(col("node"), col("node").as("label"))
    louvainRefine(intra, seed, rounds)
  }

  /** L59: Leiden-style community detection — the algorithm scanpy
    * actually defaults to — as phase 1 local moves, the
    * [[leidenRefinePartition]] well-connectedness refinement, then ONE
    * aggregate level over the REFINED partition whose initial labeling
    * is the PHASE-1 partition (the Leiden twist: contraction happens on
    * refined sub-communities, but the move phase starts from the
    * coarser communities, letting a badly-connected piece re-home
    * independently). All three passes are the exact-integer Pregel
    * machinery, so the DuckDB twin unrolls hash-exactly. Returns
    * (node, label) over original ids. */
  def leiden(mut: DataFrame, rounds: Int = 4,
             refineRounds: Int = 2): DataFrame = {
    val mut0 = mut.select(col("id1"), col("id2"), col("w")).localCheckpoint()
    val seed1 = mut0.select(col("id1").as("node"))
      .unionByName(mut0.select(col("id2").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
    val labels1 = louvainRefine(mut0, seed1, rounds).localCheckpoint()
    val refined = leidenRefinePartition(mut0, labels1, refineRounds)
      .localCheckpoint()
    // contraction on the REFINED partition (the ml phase-2 aggregate)
    val r1 = refined.select(col("node").as("id1"), col("label").as("_r1"))
    val r2 = refined.select(col("node").as("id2"), col("label").as("_r2"))
    val edgesR = mut0.join(r1, Seq("id1")).join(r2, Seq("id2"))
      .select(least(col("_r1"), col("_r2")).as("id1"),
        greatest(col("_r1"), col("_r2")).as("id2"), col("w"))
      .groupBy(col("id1"), col("id2")).agg(sum(col("w")).as("w"))
      .localCheckpoint()
    // aggregate-level seed: each refined super-node starts in its
    // phase-1 community (members agree by containment, so max is THE
    // value, not a choice)
    val seed2 = refined
      .join(labels1.select(col("node"), col("label").as("_p1")), Seq("node"))
      .groupBy(col("label")).agg(max(col("_p1")).as("_p1"))
      .select(col("label").as("node"), col("_p1").as("label"))
    val labels2 = louvainRefine(edgesR, seed2, rounds)
    refined.select(col("node"), col("label").as("_r"))
      .join(labels2.select(col("node").as("_r"), col("label")), Seq("_r"))
      .select(col("node"), col("label"))
  }

  /** Exact-integer modularity NUMERATOR of a labeling over an unordered
    * mutual edge set: 4·m·Σ_in − Σ_c T_c², i.e. Q · 4m² — the denominator
    * is constant for a fixed edge set, so level-over-level Q comparisons
    * need only this integer, with no float rounding to flip a boundary.
    * One edge join + two node/community-sized aggregates; the result is
    * a single driver scalar. */
  def modularityNum(mut: DataFrame, labels: DataFrame): BigInt = {
    val dec = "decimal(38,0)"
    val lab1 = labels.select(col("node").as("id1"), col("label").as("_c1"))
    val lab2 = labels.select(col("node").as("id2"), col("label").as("_c2"))
    val inSum = mut.join(lab1, Seq("id1")).join(lab2, Seq("id2"))
      .filter(col("_c1") === col("_c2"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("_in"))
    val deg = mut.select(col("id1").as("node"), col("w"))
      .unionByName(mut.select(col("id2").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("_d"))
    val totSq = deg.join(labels, Seq("node"))
      .groupBy(col("label")).agg(sum(col("_d")).as("_t"))
      .agg(coalesce(sum(col("_t").cast(dec) * col("_t").cast(dec)),
        lit(0).cast(dec)).as("_t2"))
    val mTot = mut.agg(coalesce(sum(col("w")), lit(0L)).as("_m"))
    val r = inSum.crossJoin(totSq).crossJoin(mTot)
      .select((lit(4).cast(dec) * col("_m").cast(dec) * col("_in").cast(dec)
        - col("_t2")).as("qn")).head()
    BigInt(r.getDecimal(0).toBigIntegerExact)
  }

  /** CONVERGENCE-TERMINATED multi-level Louvain — true Blondel
    * termination on top of [[louvainMultiLevel]]'s level machinery (the
    * r15 verdict item): levels run until one FAILS to improve modularity
    * (ΔQ ≤ 0 — the rejected level is discarded, exactly Blondel's
    * stopping rule), capped at `maxLevels`. Q is compared as the exact
    * integer numerator [[modularityNum]] over the ORIGINAL edge set
    * (constant denominator across levels), so the termination decision —
    * and therefore the realized level count — is a bit-deterministic
    * pure function of the edge set, pinnable as a literal into the
    * generated DuckDB oracle (the centroid-literal precedent). Returns
    * (mapping over original node ids, realized level count); level
    * count 0 means even level 1 failed to beat the singleton labeling.
    * Cost: the accepted levels (level 0 dominates, as in
    * louvainMultiLevel) + ONE rejected witness level on a
    * community-sized contraction + one modularity aggregate per level. */
  def louvainConverged(mut: DataFrame, rounds: Int = 4,
                       maxLevels: Int = 5): (DataFrame, Int) = {
    val mut0 = mut.select(col("id1"), col("id2"), col("w")).localCheckpoint()
    var edgesL = mut0
    var mapping = mut0.select(col("id1").as("node"))
      .unionByName(mut0.select(col("id2").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
    var bestQ = modularityNum(mut0, mapping)
    var levels = 0
    var done = false
    while (!done && levels < maxLevels) {
      val seed = edgesL.select(col("id1").as("node"))
        .unionByName(edgesL.select(col("id2").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      val labels = louvainRefine(edgesL, seed, rounds)
      val cand =
        if (levels == 0) labels
        else mapping.select(col("node"), col("label").as("_c"))
          .join(labels.select(col("node").as("_c"), col("label")), Seq("_c"))
          .select(col("node"), col("label"))
      // pinned: the modularity aggregate and (if accepted) every later
      // level read this frame repeatedly
      val candP = cand.localCheckpoint()
      val q = modularityNum(mut0, candP)
      if (q <= bestQ) done = true // reject + stop: Blondel's ΔQ ≤ 0 rule
      else {
        bestQ = q
        mapping = candP
        levels += 1
        if (levels < maxLevels) {
          val l1 = labels.select(col("node").as("id1"), col("label").as("_c1"))
          val l2 = labels.select(col("node").as("id2"), col("label").as("_c2"))
          edgesL = edgesL.join(l1, Seq("id1")).join(l2, Seq("id2"))
            .select(least(col("_c1"), col("_c2")).as("id1"),
              greatest(col("_c1"), col("_c2")).as("id2"), col("w"))
            .groupBy(col("id1"), col("id2")).agg(sum(col("w")).as("w"))
            .localCheckpoint()
        }
      }
    }
    (mapping, levels)
  }

  /** Spectral embedding of a weighted graph — scanpy's diffusion-map/
    * Laplacian-eigenmap coordinate family — by power iteration on the
    * LAZY random-walk matrix (I + D⁻¹A)/2 over an unordered mutual edge
    * set `(id1, id2, w: LONG)`. The lazy walk has the same eigenvectors
    * as D⁻¹A with eigenvalues mapped to [0,1], so power iteration cannot
    * latch onto a (near-)bipartite component's −1 mode — a path-shaped
    * kNN cluster does exhibit exactly that failure under the plain walk.
    * Returns the 2nd and 3rd eigenvector
    * coordinates (the 1st is the constant vector, deflated away) as
    * FIXED-POINT integers in units of 10⁻⁶ (`e1_q`, `e2_q`).
    *
    * The whole iteration is bit-replicable across engines: the vector
    * lives in integer units, every reduction (matvec Σw·x, deflation
    * numerators Σd·x / Σd·x·p, D-norm Σd·x²) is an EXACT decimal(38,0)
    * sum of integer products — no float-sum order sensitivity — and the
    * only floating-point steps are correctly-rounded scalar double ops
    * (divide, sqrt, multiply) on identical inputs followed by an
    * immediate round-back to integer units. The DuckDB oracle unrolls
    * the same iterations in hugeint and matches hash-exactly.
    *
    * Shape per iteration: one edge join + aggregate (the matvec — the
    * only edge-sized work) + three node-sized aggregates; vectors are
    * (node, xq) frames, localCheckpoint'd to bound lineage. The driver
    * sees only exact integer scalars — O(1) traffic. At cluster scale
    * this is textbook Pregel PageRank cost per iteration. Fixed `iters`
    * keeps the output a pure function of the edge set whether or not
    * the iteration has converged (eigen-quality is asserted in tests,
    * parity by the oracle). */
  def spectralEmbed(mut: DataFrame, iters: Int = 12,
                    localEdgeThreshold: Long = 5000000L): DataFrame = {
    val S = 1000000L
    val dec = "decimal(38,0)"
    val edges0 = mut.select(col("id1").as("src"), col("id2").as("dst"), col("w"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst"), col("w")))
      .localCheckpoint()
    val deg = edges0.groupBy(col("src").as("node")).agg(sum(col("w")).as("d"))
      .localCheckpoint()
    // LAZY-walk edge set: the lazy matrix (P+I)/2 = (2D)⁻¹(A+D) IS the
    // plain random walk over the graph augmented with one self-loop of
    // weight d per node — so the augmentation happens HERE, once, and
    // each iteration keeps the original single-join matvec shape. (The
    // alternative — joining x a second time per iteration to add xq/2 —
    // doubles the stats-estimation BigInt bit-length per iteration via
    // LogicalRDD origin stats and grinds the driver to a halt.)
    val edges = edges0.unionByName(deg.select(col("node").as("src"),
        col("node").as("dst"), col("d").as("w")))
      .localCheckpoint()
    val sumd = deg.agg(sum(col("d"))).head().getLong(0)
    require(sumd > 0, "spectral embedding needs a non-empty graph")

    // Dual regime (the connectedComponents precedent): below the edge
    // threshold the augmented graph is broadcast-class data and the 24
    // iterations are pure launch overhead as distributed jobs (~300 AQE
    // stage-jobs measured at sf0.1 for ~1 s of actual work) — run the
    // IDENTICAL exact-integer iteration on the driver in one collect.
    // Every reduction is a BigInt sum (= the decimal(38,0) aggregates,
    // order-free), every scalar double op is the same correctly-rounded
    // IEEE expression in the same order, and every round is the same
    // HALF_UP grid — so the two paths are BIT-EQUAL (differential spec).
    // Above the threshold the distributed loop below is the only path
    // that scales: per iteration one edge-sized matvec + node-sized
    // aggregates, textbook Pregel cost.
    if (edges.count() <= localEdgeThreshold)
      return spectralLocal(mut.sparkSession, edges, deg, sumd, iters)

    // one deflated power-iteration sweep; `prev` adds the second
    // deflation direction (v2) for the v3 sweep
    def sweep(x0: DataFrame, prev: Option[DataFrame]): DataFrame = {
      var x = x0 // (node, xq: long)
      for (_ <- 1 to iters) {
        val y = edges
          .join(x.select(col("node").as("dst"), col("xq")), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("w").cast(dec) * col("xq").cast(dec)).as("y"))
        // not checkpointed: the matvec recomputes once more per consumer,
        // but the PREVIOUS x is pinned so the plan stays one join deep —
        // and dropping the cut saves a whole job per iteration (these
        // ~100 tiny jobs are the query's entire local cost).
        // The matvec ran over the self-loop-augmented edges, so y =
        // (A+D)x and z = y/(2d) applies the LAZY walk (P+I)/2: same
        // eigenvectors as P, eigenvalues shifted to [0,1] — a (near-)
        // bipartite component has a P-eigenvalue near −1 that plain
        // power iteration latches onto (observed: a path-shaped
        // mutual-kNN cluster), while the lazy walk provably converges
        // to the top nontrivial mode
        val z = y.join(deg, Seq("node"))
          .select(col("node"), col("d"),
            round(col("y").cast("double") / (col("d").cast("double") * 2.0))
              .cast("long").as("zq"))
        // ONE exact-decimal aggregate per iteration yields EVERY scalar
        // the deflation + normalization need: the D-norm n2 is derived
        // from the same sums by expanding Σd·(z−α−βp)² algebraically
        // (pre-round values — the ≤0.5 rounding of each deflated entry
        // shifts the norm by ~1e-7 relative, irrelevant for a
        // normalization factor). This halves the per-iteration job
        // count (agg + checkpoint, down from agg + agg + checkpoint).
        // The oracle mirrors the identical scalar algebra term-for-term,
        // so the engines stay bit-equal.
        x = prev match {
          case Some(p) =>
            // LAZY checkpoint: the very next action is the scalar aggregate
            // below, which materializes j as a side effect — an eager cut
            // here would spend a whole extra job per iteration just to
            // materialize what the aggregate is about to read anyway
            // (~24 of these tiny jobs were the query's measured fixed cost)
            val j = z.join(p.select(col("node"), col("xq").as("pq")), Seq("node"))
              .localCheckpoint(false)
            val t = j.agg(
              sum(col("d").cast(dec) * col("zq").cast(dec)).cast("double"),
              sum(col("d").cast(dec) * col("zq").cast(dec) *
                col("zq").cast(dec)).cast("double"),
              sum(col("d").cast(dec) * col("zq").cast(dec) *
                col("pq").cast(dec)).cast("double"),
              sum(col("d").cast(dec) * col("pq").cast(dec)).cast("double"),
              sum(col("d").cast(dec) * col("pq").cast(dec) *
                col("pq").cast(dec)).cast("double")).head()
            val (t1, t2, t3, t4, t5) = (t.getDouble(0), t.getDouble(1),
              t.getDouble(2), t.getDouble(3), t.getDouble(4))
            val alpha = t1 / sumd.toDouble
            val beta = t3 / t5
            val n2 = t2 - 2.0 * alpha * t1 - 2.0 * beta * t3 +
              alpha * alpha * sumd.toDouble + 2.0 * alpha * beta * t4 +
              beta * beta * t5
            val f = S * math.sqrt(sumd.toDouble / n2)
            // x rides the j checkpoint — no per-iteration cut needed here
            j.select(col("node"),
              round(round(col("zq") - lit(alpha) - lit(beta) * col("pq"))
                .cast("long") * lit(f)).cast("long").as("xq"))
          case None =>
            val s = z.agg(
              sum(col("d").cast(dec) * col("zq").cast(dec)).cast("double"),
              sum(col("d").cast(dec) * col("zq").cast(dec) *
                col("zq").cast(dec)).cast("double")).head()
            val (s1, s2) = (s.getDouble(0), s.getDouble(1))
            val alpha = s1 / sumd.toDouble
            val n2 = s2 - 2.0 * alpha * s1 + alpha * alpha * sumd.toDouble
            val f = S * math.sqrt(sumd.toDouble / n2)
            // the v2 sweep's x is read by every v3 iteration — pin it.
            // LAZY: the next iteration's matvec (or the v3 sweep's first
            // join) materializes it inside a job that runs regardless;
            // an eager cut would add a dedicated job per iteration
            z.select(col("node"),
              round(round(col("zq") - lit(alpha)).cast("long") * lit(f))
                .cast("long").as("xq"))
              .localCheckpoint(false)
        }
      }
      x
    }

    val nodes = deg.select(col("node"))
    val v2 = sweep(
      nodes.select(col("node"), ((col("node") % 7 - 3) * lit(S / 3))
        .cast("long").as("xq")), None)
    val v3 = sweep(
      nodes.select(col("node"), ((col("node") % 5 - 2) * lit(S / 2))
        .cast("long").as("xq")), Some(v2))
    v2.select(col("node"), col("xq").as("e1_q"))
      .join(v3.select(col("node"), col("xq").as("e2_q")), Seq("node"))
  }

  /** Driver twin of [[spectralEmbed]]'s distributed iteration for
    * broadcast-class graphs: the same lazy-walk matvec (BigInt sums =
    * the decimal(38,0) aggregates — both exact, both order-free), the
    * same scalar double expressions in the same order, the same
    * HALF_UP-round-to-integer-units steps — BIT-EQUAL by construction
    * and by the differential spec. `edgesDf` arrives ALREADY self-loop
    * augmented; one typed collect each for edges and degrees. */
  private def spectralLocal(spark: org.apache.spark.sql.SparkSession,
                            edgesDf: DataFrame, degDf: DataFrame, sumd: Long,
                            iters: Int): DataFrame = {
    import spark.implicits._
    val S = 1000000L
    val es = edgesDf.select(col("src"), col("dst"), col("w"))
      .as[(Long, Long, Long)].collect()
    val dm = degDf.select(col("node"), col("d"))
      .as[(Long, Long)].collect().toMap
    // Spark's Round(double, 0): BigDecimal(shortest-repr) + HALF_UP,
    // then the long cast truncates the integral double
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
    def sweep(x0: Map[Long, Long], prev: Option[Map[Long, Long]]): Map[Long, Long] = {
      var x = x0
      for (_ <- 1 to iters) {
        val y = collection.mutable.HashMap.empty[Long, BigInt]
        es.foreach { case (s, t, w) =>
          y(s) = y.getOrElse(s, BigInt(0)) + BigInt(w) * BigInt(x(t))
        }
        val z = y.map { case (n, yv) =>
          n -> rnd(yv.toDouble / (dm(n).toDouble * 2.0))
        }
        x = prev match {
          case Some(p) =>
            var (t1b, t2b, t3b, t4b, t5b) =
              (BigInt(0), BigInt(0), BigInt(0), BigInt(0), BigInt(0))
            z.foreach { case (n, zq) =>
              val d = BigInt(dm(n)); val zb = BigInt(zq); val pb = BigInt(p(n))
              t1b += d * zb; t2b += d * zb * zb
              t3b += d * zb * pb; t4b += d * pb; t5b += d * pb * pb
            }
            val (t1, t2, t3, t4, t5) = (t1b.toDouble, t2b.toDouble,
              t3b.toDouble, t4b.toDouble, t5b.toDouble)
            val alpha = t1 / sumd.toDouble
            val beta = t3 / t5
            val n2 = t2 - 2.0 * alpha * t1 - 2.0 * beta * t3 +
              alpha * alpha * sumd.toDouble + 2.0 * alpha * beta * t4 +
              beta * beta * t5
            val f = S * math.sqrt(sumd.toDouble / n2)
            z.map { case (n, zq) =>
              n -> rnd(rnd((zq.toDouble - alpha) - beta * p(n).toDouble)
                .toDouble * f)
            }.toMap
          case None =>
            var (s1b, s2b) = (BigInt(0), BigInt(0))
            z.foreach { case (n, zq) =>
              val d = BigInt(dm(n)); val zb = BigInt(zq)
              s1b += d * zb; s2b += d * zb * zb
            }
            val (s1, s2) = (s1b.toDouble, s2b.toDouble)
            val alpha = s1 / sumd.toDouble
            val n2 = s2 - 2.0 * alpha * s1 + alpha * alpha * sumd.toDouble
            val f = S * math.sqrt(sumd.toDouble / n2)
            z.map { case (n, zq) =>
              n -> rnd(rnd(zq.toDouble - alpha).toDouble * f)
            }.toMap
        }
      }
      x
    }
    val v2 = sweep(dm.keys.map(n => n -> ((n % 7 - 3) * (S / 3))).toMap, None)
    val v3 = sweep(dm.keys.map(n => n -> ((n % 5 - 2) * (S / 2))).toMap, Some(v2))
    dm.keys.toSeq.sorted.map(n => (n, v2(n), v3(n))).toDF("node", "e1_q", "e2_q")
  }

  /** Weighted modularity Q of a labeling over an unordered edge set
    * `(id1, id2, w: LONG)` — the quality number that separates a real
    * community structure from a connected-components blob. Computed as
    * ONE exact integer fraction, Q = (4m·Σin_c − Σtot_c²) / 4m², in
    * decimal(38,0) (tot_c² reaches ~1e28 at a 10¹⁴ total weight — far
    * past Long) with a single double division at the end, so the result
    * is bit-deterministic and matches the DuckDB hugeint oracle exactly.
    * Shape: two label joins on the edge set + one degree aggregate —
    * graph-sized, one output row `(q_mod)`. */
  /** Per-node triangle counts over an unordered mutual edge set
    * `(id1, id2)` (id1 < id2) — the local-clustering-coefficient
    * numerator scanpy/UMAP neighborhood QC reads, and the classic
    * at-scale graph kernel. Degree-ordered orientation (Schank/Wagner):
    * every edge points from the (degree, node)-smaller endpoint, so each
    * triangle is enumerated exactly once from its smallest-rank corner
    * and — the scale point — wedge generation is Σ out-deg², bounded by
    * O(m^1.5) total work regardless of hub skew, where the naive
    * neighbor-join is Σ deg² (a single celebrity node makes that
    * quadratic). Shapes: one self-join on the wedge corner + one
    * edge-existence join, both shuffles on node keys; output
    * `(node, deg, tri)` exact BIGINTs for every edge-incident node. */
  def triangleCounts(mut: DataFrame): DataFrame = {
    val und = mut.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // rank = (deg, node): total order, so orientation is acyclic
    val withRanks = und
      .join(deg.select(col("node").as("src"), col("deg").as("_ds")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("_dd")), Seq("dst"))
    val oriented = withRanks
      .filter(struct(col("_ds"), col("src")) < struct(col("_dd"), col("dst")))
      .select(col("src"), col("dst"), col("_dd"))
    // wedges from the smallest-rank corner a: (a→b, a→c) with rank b <
    // rank c; the closing edge is then oriented b→c by construction
    val e1 = oriented.select(col("src").as("_a"), col("dst").as("_b"),
      col("_dd").as("_db"))
    val e2 = oriented.select(col("src").as("_a"), col("dst").as("_c"),
      col("_dd").as("_dc"))
    val wedges = e1.join(e2, Seq("_a"))
      .filter(struct(col("_db"), col("_b")) < struct(col("_dc"), col("_c")))
    val closing = oriented.select(col("src").as("_b"), col("dst").as("_c"))
    val tris = wedges.join(closing, Seq("_b", "_c"))
    val perNode = tris.select(col("_a").as("node"))
      .unionByName(tris.select(col("_b").as("node")))
      .unionByName(tris.select(col("_c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
  }

  /** L6t: per-edge LINK-STRENGTH indices — common-neighbor count, exact
    * integer JACCARD vertex similarity (common·10⁶ // |N(u)∪N(v)|, with
    * u∈N(v)/v∈N(u) counted in the union — the standard link-prediction
    * form) and the RESOURCE-ALLOCATION index (Zhou et al. 2009:
    * Σ_{z∈N(u)∩N(v)} 10⁶ // deg(z) — Adamic–Adar's integer-exact sibling,
    * no float log). The edge-trust signal a mutual-kNN pipeline prunes
    * and reweights by (graph sparsification; "is this edge supported by
    * the neighborhood or a bridge?").
    *
    * Shape: common neighbors enumerate through TWO adjacency joins per
    * mutual pair (cost Σ_edges deg ≈ corpus·k² — k-bounded, never
    * corpus²); one degree join on z feeds the RA sum; zero-common edges
    * are preserved by a keyed left join back onto the pair set. All
    * outputs BIGINT floor arithmetic — hash-exact in the SQL twin over
    * the same edge prefix. */
  def edgeSimilarity(mut: DataFrame): DataFrame = {
    val pairs = mut.select(col("id1"), col("id2"))
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val deg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("k"))
    val cn = pairs
      .join(edges.select(col("src").as("id1"), col("dst").as("_z")), Seq("id1"))
      .join(edges.select(col("src").as("id2"), col("dst").as("_z")), Seq("id2", "_z"))
    val agg = cn
      .join(deg.select(col("node").as("_z"), col("k").as("_kz")), Seq("_z"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("_cc"), sum(expr("1000000 div _kz")).as("_ra"))
    pairs
      .join(deg.select(col("node").as("id1"), col("k").as("_ku")), Seq("id1"))
      .join(deg.select(col("node").as("id2"), col("k").as("_kv")), Seq("id2"))
      .join(agg, Seq("id1", "id2"), "left_outer")
      .select(col("id1"), col("id2"),
        coalesce(col("_cc"), lit(0L)).as("common_cnt"),
        expr("(coalesce(_cc, 0L) * 1000000) div (_ku + _kv - coalesce(_cc, 0L))")
          .as("jaccard_e6"),
        coalesce(col("_ra"), lit(0L)).as("ra_e6"))
  }

  /** k-CORE decomposition (the graph-QC prune scanpy-style pipelines
    * and community pre-filters run): iteratively delete nodes of degree
    * < k until fixpoint — the k-core is the unique maximal subgraph
    * with all degrees ≥ k. `rounds` is a fixed unroll (output is the
    * true core iff the iteration has converged; convergence at gate
    * scale is spec-asserted, and the fixed count keeps the result a
    * pure function of the edge set — the spectral/labelprop contract).
    * Per round: one degree aggregate + two semi-joins on the edge list,
    * localCheckpoint'd — Pregel-shaped cost, no driver data. Returns
    * surviving (node, deg) with deg = degree INSIDE the core. */
  def kCore(mut: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var edges = mut.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(mut.select(col("id2").as("src"), col("id1").as("dst")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("_d")).filter(col("_d") >= k)
        .select(col("node"))
      edges = edges
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
  }

  def modularity(mut: DataFrame, labels: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val lab1 = labels.select(col("node").as("id1"), col("label").as("_c1"))
    val lab2 = labels.select(col("node").as("id2"), col("label").as("_c2"))
    val inSum = mut.join(lab1, Seq("id1")).join(lab2, Seq("id2"))
      .filter(col("_c1") === col("_c2"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("_in"))
    val deg = mut.select(col("id1").as("node"), col("w"))
      .unionByName(mut.select(col("id2").as("node"), col("w")))
      .groupBy(col("node")).agg(sum(col("w")).as("_d"))
    val totSq = deg.join(labels, Seq("node"))
      .groupBy(col("label")).agg(sum(col("_d")).as("_t"))
      .agg(sum(col("_t").cast(dec) * col("_t").cast(dec)).as("_t2"))
    val mTot = mut.agg(sum(col("w")).as("_m"))
    inSum.crossJoin(totSq).crossJoin(mTot)
      .select((round(
        (lit(4).cast(dec) * col("_m").cast(dec) * col("_in").cast(dec) - col("_t2"))
          .cast("double") /
        (lit(4).cast(dec) * col("_m").cast(dec) * col("_m").cast(dec)).cast("double"),
        6) + 0.0).as("q_mod"))
  }

  /** Embedding near-dup: pairs with cosine ≥ minCos, candidates bounded to
    * same-bucket (multi-probe Hamming-1 via probe explosion on ONE side so
    * each unordered pair is still generated once per shared probe). */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   planes: Array[Array[Double]], minCos: Double): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val bucketed = withBucket(emb, vecCol, planes)
      .select(col(idCol).as("doc_id"), v.as("vec"), norm2(v).as("nrm"), col("bucket"))
    val probed = bucketed.withColumn("probe",
      explode(array((col("bucket") +:
        planes.indices.map(b => col("bucket").bitwiseXOR(lit(1 << b)))): _*)))
    val l = probed.as("l"); val r = bucketed.as("r")
    l.join(r, col("l.probe") === col("r.bucket") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"),
        try_divide(dot(col("l.vec"), col("r.vec")),
          col("l.nrm") * col("r.nrm")).as("cos")) // null for zero-norm rows
      .filter(col("cos") >= minCos)
      .groupBy(col("id1"), col("id2")).agg(round(max(col("cos")), 4).as("cos"))
  }
}
