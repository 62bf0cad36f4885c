package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.GraftPaths
import graft.zarr.Zarr

/** Structured Streaming operators.
  *
  * At scale these run as `readStream` over an object-store prefix with
  * watermarked state in RocksDB; here they're driven synchronously by a
  * file source + memory sink so the batch oracle can check them exactly.
  */
object Stream {

  /** Raw events schema per sf dir (one driver-side footer read), so the
    * file stream can read the ORIGINAL parquet bytes — no data copy. The
    * file source requires a DIRECTORY, and the testdata table is a single
    * file, so we link it into a per-sf dir (a metadata op; a real
    * deployment points readStream at an object-store prefix directly). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def linkedTableDir(sfDir: String, sfName: String, table: String): String = {
    import java.nio.file.{Files, LinkOption, Path, Paths}
    val dir = Paths.get(s"target/tmp/stream_src_${table}_$sfName")
    Files.createDirectories(dir)
    val target = Paths.get(sfDir, s"$table.parquet").toAbsolutePath
    def linkOne(link: Path, to: Path): Unit = {
      // NOFOLLOW: a dangling link from a prior run (moved/regenerated
      // testdata) must read as PRESENT so it can be replaced — the default
      // exists() follows the link and would report false, and the create
      // below would then throw FileAlreadyExistsException forever
      if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != to)
        Files.delete(link)
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        try Files.createSymbolicLink(link, to)
        catch { case _: java.nio.file.FileAlreadyExistsException => () } // lost a benign race
    }
    if (Files.isDirectory(target)) {
      // directory-shaped table (a Spark parquet write, the production
      // layout): link each DATA FILE into the stream dir. The file-stream
      // source lists files and does NOT recurse into subdirectories, so
      // linking the directory itself would silently stream ZERO rows —
      // the empty-result failure mode the sf1 replica exposed.
      val it = Files.list(target).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet"))
          linkOne(dir.resolve(s"${table}_${p.getFileName}"), p.toAbsolutePath)
      }
    } else linkOne(dir.resolve(s"$table.parquet"), target)
    dir.toString
  }

  private def linkedEventsDir(sfDir: String, sfName: String): String =
    linkedTableDir(sfDir, sfName, "events")

  /** State-store provider. RocksDB is the at-scale deployment choice
    * (bounded executor heap, changelog checkpointing for TB-sized state),
    * but measured at local[32] with toy state it REGRESSES every streaming
    * query (~2× — per-partition instance spin-up × partitions × sides ×
    * micro-batches dominates; BASELINE.md optimization ledger, round 4).
    * So the default here is Spark's in-memory HDFS-backed provider, and
    * deployments opt into RocksDB with GRAFT_STATE_STORE=rocksdb (or a
    * fully-qualified provider class). */
  private val stateStoreProvider: Option[String] =
    sys.env.get("GRAFT_STATE_STORE").map {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case cls => cls
    }

  /** Streaming state partition count is fixed at query start from
    * shuffle.partitions; 32 partitions × sides × micro-batches of
    * state-store files dominate small local runs, so streaming queries
    * run with a smaller count (a real deployment sizes this to state
    * volume, not to the CPU count). */
  private def withStatePartitions[T](spark: SparkSession, n: Int,
                                     noDataBatch: Boolean = true)(body: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val sKey = "spark.sql.streaming.stateStore.providerClass"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevP = spark.conf.get(pKey)
    val prevS = spark.conf.getOption(sKey)
    val prevN = spark.conf.get(nKey)
    spark.conf.set(pKey, n.toString)
    stateStoreProvider.foreach(spark.conf.set(sKey, _))
    // r21 (r20 verdict #1): the watermark-advancing NO-DATA micro-batch
    // costs a full IncrementalExecution re-plan + a state-store commit
    // round (~1-1.5 s per query here) — callers whose OUTPUT it cannot
    // change opt out: complete-mode aggregations (every batch re-emits the
    // whole result), inner stream-stream joins and dropDuplicates* (both
    // emit on arrival; state eviction emits nothing). Queries whose append
    // emission IS watermark finalization (outer joins, append-mode window
    // aggregates) keep it — dropping it there drops their rows.
    if (!noDataBatch) spark.conf.set(nKey, "false")
    try body finally {
      spark.conf.set(pKey, prevP)
      spark.conf.set(nKey, prevN)
      prevS match {
        case Some(v) => spark.conf.set(sKey, v)
        case None    => spark.conf.unset(sKey)
      }
    }
  }

  private def eventsStream(spark: SparkSession, sfDir: String): (DataFrame, String) = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(sfDir,
      _ => spark.read.parquet(s"$sfDir/events.parquet").schema)
    val stream0 = spark.readStream.schema(raw)
      .parquet(linkedEventsDir(sfDir, sfName))
    // the SHARED normalization rule — batch twin and stream can't diverge
    (graft.Tables.normalizeEventTs(stream0), sfName)
  }

  /** Tumbling-window aggregate (1 h) over the events stream. Money goes
    * through exact integer cents (unordered double sums would not be
    * bit-stable across engines). Returns the finished result as a batch
    * DataFrame: (ws epoch-secs, event_type, n, cents).
    */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (stream, sfName) = eventsStream(spark, sfDir)
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))

    val qn = s"win_agg_$sfName"
    // complete-mode: every batch re-emits the full result — the no-data
    // finalization batch is output-neutral, skip it
    withStatePartitions(spark, 8, noDataBatch = false) {
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }

    spark.table(qn).select(
      unix_timestamp(col("window.start").cast("timestamp")).as("ws"),
      col("event_type"), col("n"), col("cents"))
  }

  /** S18: streaming TOP-K per event-time window — the trending-now /
    * per-window-leaders rollup. Ranking is not a streaming operator
    * (a window's rank can change until the watermark closes it), so the
    * production shape is exactly this split: the STREAM finalizes
    * per-(window, key) counts under a watermark; a bounded BATCH
    * post-pass ranks within each closed window (the stream_neardup
    * post-verify precedent). The post-pass input is windows×keys rows —
    * aggregate-sized, not event-sized — and its rank window partitions
    * by window start. Deterministic: counts are exact on the finite
    * input, ties break (n desc, event_type). */
  def topkStream(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val (stream, sfName) = eventsStream(spark, sfDir)
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val qn = s"win_topk_$sfName"
    // complete-mode: no-data batch output-neutral (see windowAgg)
    withStatePartitions(spark, 8, noDataBatch = false) {
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws")).orderBy(col("n").desc, col("event_type"))
    spark.table(qn)
      .select(unix_timestamp(col("window.start").cast("timestamp")).as("ws"),
        col("event_type"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Stream-stream inner join: each purchase joined to the views by the
    * same user in the preceding hour. Watermarks bound both sides' state
    * (views older than the range + slack are evicted); inner-join matches
    * emit as found, so the finite-input result is deterministic and equals
    * the batch range join the oracle runs. */
  def streamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, sfName) = eventsStream(spark, sfDir)
    // watermark = join range (1 h) + slack: state for a view is evictable
    // once no future purchase can reach back to it
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      .withWatermark("pts", "65 minutes")
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "65 minutes")

    val joined = purchases.join(views,
      purchases("user_id") === views("user_id") &&
        col("vts") < col("pts") && col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"))

    val qn = s"stream_join_$sfName"
    // INNER join: matches emit in the data batch; watermark eviction emits
    // nothing — the no-data batch is output-neutral, skip it (the left/full
    // outer variants MUST keep it: their null rows emit on expiry)
    withStatePartitions(spark, 8, noDataBatch = false) {
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S16: stream-stream LEFT OUTER time-range join — the semantics corner
    * beyond [[streamJoin]]'s inner: purchases with NO qualifying view in
    * the preceding hour must still emit, null-matched, once the watermark
    * proves no future view can arrive for them. Matched rows emit as
    * found (inner behavior); the null rows emit on state expiry, so the
    * emission cutoff is mirrored in the oracle exactly like
    * [[sessionWindowAgg]]'s: a purchase row's join window is closed once
    * the final watermark (max event time floored to ms, minus the 65 min
    * delay) has passed its own event time. */
  def streamLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, sfName) = eventsStream(spark, sfDir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      .withWatermark("pts", "65 minutes")
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "65 minutes")
    val joined = purchases.join(views,
      purchases("user_id") === views("user_id") &&
        col("vts") < col("pts") && col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("view_id"))
    val qn = s"stream_ljoin_$sfName"
    withStatePartitions(spark, 8) {
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn).select(col("purchase_id"),
      coalesce(col("view_id"), lit(-1L)).as("view_id"))
  }

  /** S23: stream-stream FULL OUTER time-range join — completes the
    * S3 (inner) / S16 (left) join matrix: BOTH unmatched sides emit
    * null-views on watermark expiry. Matched rows emit as found; an
    * unmatched purchase emits once the global watermark passes its own
    * event time (the S16 rule — no future view can precede it inside the
    * hour); an unmatched VIEW emits once the watermark passes
    * `vts + 1 h`, because the range predicate `vts >= pts − 1 h` bounds
    * every purchase that could still match it to `pts <= vts + 1 h` —
    * that is the state watermark Spark derives for the view side, and
    * the oracle mirrors it as `v.us < wm − 3600000000`. State on both
    * sides stays bounded by the range + slack exactly as in the inner
    * join. */
  def streamFullJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, sfName) = eventsStream(spark, sfDir)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("pts"))
      .withWatermark("pts", "65 minutes")
    val views = src.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
      .withWatermark("vts", "65 minutes")
    val joined = purchases.join(views,
      purchases("user_id") === views("user_id") &&
        col("vts") < col("pts") && col("vts") >= col("pts") - expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(col("purchase_id"), col("view_id"))
    val qn = s"stream_fjoin_$sfName"
    withStatePartitions(spark, 8) {
      val q = joined.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn).select(
      coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
      coalesce(col("view_id"), lit(-1L)).as("view_id"))
  }

  /** Streaming dedup: at most one event per (user, type, hour) — the
    * streaming face of exact dedup in a training-data pipeline.
    * `dropDuplicatesWithinWatermark` keeps dedup state only for the
    * watermark window (2 h), so state is bounded by key cardinality per
    * window, not by stream length — the production shape for continuous
    * ingest. The finite test input arrives in one micro-batch, so the
    * emitted set is exactly the batch DISTINCT the oracle runs. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val (src, sfName) = eventsStream(spark, sfDir)
    val dd = src
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_timestamp(date_trunc("hour", col("ts"))).as("hs"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hs")
      .select(col("user_id"), col("event_type"), col("hs"))
    val qn = s"stream_dedup_$sfName"
    // dropDuplicatesWithinWatermark emits first-seen rows ON ARRIVAL; the
    // no-data batch only evicts state — output-neutral, skip it
    withStatePartitions(spark, 8, noDataBatch = false) {
      val q = dd.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** Streaming IVF index maintenance: vectors arriving on a stream are
    * assigned their inverted-list id in-flight with the batch-trained
    * centroid model (codegen'd dot products — stateless, no watermark, no
    * shuffle), the shape that keeps an ANN index current under continuous
    * ingest: in production the sink is a foreachBatch upsert into the
    * list-partitioned store; here it's the memory sink so the result can
    * be checked against the batch assignment. */
  def ivfAssignStream(spark: SparkSession, sfDir: String,
                      centroids: Array[Array[Double]]): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/embeddings",
      _ => spark.read.parquet(s"$sfDir/embeddings.parquet").schema)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "embeddings"))
    val assigned = graft.ops.Similarity.withIvfList(src, "embedding", centroids)
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"))
    val qn = s"stream_ivf_$sfName"
    withStatePartitions(spark, 8) {
      val q = assigned.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S26: composed CURATION admission at the ingest edge — the streaming
    * face of L19's `pipeline_curate` gate (quality ∧ repetition ∧ langid
    * ∧ mix-rate), i.e. the C4/Gopher-style ingest filter a training-data
    * pipeline runs BEFORE anything stateful touches a document.
    * STATELESS by construction: all four rules are pure per-record
    * columns — the X7 TextStats-derived quality score, the dup-word/
    * dup-bigram repetition keep, the X6 langid kernel, and the
    * deterministic md5 mix-rate hash — so every micro-batch is a map and
    * the admitted set is BIT-EQUAL to the batch pipeline's pre-dedup
    * stage (shared thresholds, shared kernels, shared hash). The dedup
    * leg of L19 is deliberately NOT composed here: edge dedup is its own
    * STATEFUL admission face (S4 watermarked exact, S9 near-dup, S10
    * perceptual) and chains after this gate as a second writeStream
    * stage in production. Emits (doc_id, group_key, quality); oracle =
    * the batch curation SQL minus the keeper semi-join. */
  def curateStream(spark: SparkSession, sfDir: String,
                   rates: Map[String, Double]): DataFrame = {
    import org.apache.spark.sql.functions._
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    val gated = src.select(col("doc_id"), col("source").as("group_key"),
        graft.ops.TextOps.qualityCol(col("text")).as("quality"),
        // dup-word cap 0.6: the small-vocabulary corpus rule shared with
        // the batch pipeline (see pipeline_curate)
        graft.ops.TextOps.repetitionKeepCol(col("text"), maxDupWord = 0.6).as("_keep"),
        graft.ops.TextOps.langIdCol(col("text")).as("_lang"))
      .filter(col("quality") >= 0.3 && col("_keep") && col("_lang") =!= "und" &&
        graft.ops.Sampling.mixPredicate(col("doc_id"), col("group_key"), rates))
      .select(col("doc_id"), col("group_key"), col("quality"))
    val qn = s"stream_curate_$sfName"
    withStatePartitions(spark, 8) {
      val q = gated.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S20: DSIR admission scoring at the INGEST edge — each arriving
    * document gets its importance weight log(p_target/p_raw) under the
    * batch-trained hashed-ngram model ([[graft.ops.Sampling.dsirModel]],
    * `buckets` rows collected once and entering the stream plan as a map
    * literal). STATELESS: no watermark, no state store — the score is a
    * per-row fold over the document's own unigram+bigram buckets, so
    * every micro-batch is a map. The fold order differs from the batch
    * query's shuffle-summed order, but every term is an exact BIGINT
    * micro-nat, so the stream scores are BIT-EQUAL to batch sample_dsir's
    * and the oracle is the batch score CTE verbatim. In production the
    * sink thresholds the score for admission; here it's the memory sink
    * so the driver can compare. Out-of-model buckets (impossible while
    * scoring the training corpus itself; possible for future arrivals)
    * contribute 0 — the neutral "no evidence" weight. */
  def dsirStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // dense long[] delta table (zero = absent bucket): the model enters
    // the stream plan as ONE referenced array behind the codegen'd
    // DsirScore kernel — the interpreted HOF fold this replaces measured
    // 236 s at the sf10 gate; the kernel is one md5 + one index per gram
    val deltas = graft.SessionCache.durableLongs(spark, s"dsirDeltas:$sfDir",
        s"$sfDir/documents.parquet", graft.ops.Sampling.DsirBuckets) {
      val a = new Array[Long](graft.ops.Sampling.DsirBuckets)
      graft.ops.Sampling.dsirModel(docs,
          docs.filter(col("source") < "src10"), "doc_id", "text")
        .collect().foreach(r => a(r.getLong(0).toInt) = r.getLong(1))
      a
    }
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    val scored = src.select(col("doc_id"),
      graft.functions.DsirScore.score(col("text"), deltas).as("score_micro"))
    val qn = s"stream_dsir_$sfName"
    withStatePartitions(spark, 8) {
      val q = scored.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S21: CCNet perplexity-tercile ADMISSION at the ingest edge — the
    * streaming face of L44, closing the admission trio (classifier S17,
    * DSIR S20, perplexity here): each arriving document is LM-scored and
    * bucketed against per-language THRESHOLD VALUES the batch terciles
    * produced ([[graft.ops.TextOps.pplTercileCuts]] — production ships
    * cut values to the edge; rank is a batch notion). STATELESS: the LM
    * is a vocab-sized token→micro-nat map literal (the stream_classify
    * pattern), the per-doc NLL a per-row integer fold (unknown tokens
    * skipped from numerator AND denominator — the batch inner-join rule),
    * language the shared kernel, the bucket a literal CASE. All integers,
    * so scores and buckets are BIT-EQUAL to the value-threshold batch
    * twin; at a shared threshold value the stream admits every tied doc
    * where the batch RANK rule splits ties by doc_id (documented — the
    * cuts are chosen AT tie-free rank boundaries on this corpus, and the
    * oracle applies the same value rule). Docs with no in-model token
    * have no NLL and are not emitted (the batch absence rule). */
  def pplFilterStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    // the literal LM + tercile cuts fit ONCE per (session, corpus) —
    // shared with the batch ppl family through the same cached LM frame
    val (lm, cuts) = graft.ops.TextOps.pplServingModelCached(spark, sfDir)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    // X15 kernel: sum-over-hits + hit count in ONE token walk per record
    // (the aggregate/element_at lambda pair this replaces is
    // CodegenFallback — measured 86 s at the sf10 gate, interpreted);
    // the two element_at consumers share the one call via projection
    // subexpression elimination
    val sc = graft.functions.TokenScore.nllSumCount(col("text"), lm)
    val scored = src
      .select(col("doc_id"), graft.ops.TextOps.langIdCol(col("text")).as("lang"),
        element_at(sc, 1).as("_s"), element_at(sc, 2).as("_n"))
      .filter(col("_n") > 0)
      .select(col("doc_id"), col("lang"), expr("_s div _n").as("nll_micro"))
    val bucket = cuts.foldLeft(lit("tail")) { case (acc, (lang, t1, t2)) =>
      when(col("lang") === lang,
        when(t1.map(v => col("nll_micro") <= v).getOrElse(lit(false)), "head")
          .when(t2.map(v => col("nll_micro") <= v).getOrElse(lit(false)), "middle")
          .otherwise("tail"))
        .otherwise(acc)
    }
    val out = scored.select(col("doc_id"), col("lang"), col("nll_micro"),
      bucket.as("bucket"), (bucket =!= "tail").as("keep"))
    val qn = s"stream_pplf_$sfName"
    withStatePartitions(spark, 8) {
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** Stream-STATIC join — the third Structured Streaming join mode, and
    * the decontamination filter at the INGEST edge: documents arrive on a
    * stream and each is checked against a STATIC benchmark fingerprint
    * set before it can enter the training corpus. Stateless — no
    * watermark, no state store; every micro-batch plans a broadcast hash
    * join against the static side (eval suites are dimension-sized next
    * to a 100 TB corpus, and the static plan is reused across batches).
    * Fingerprints are exact md5 of the text — the same rule as
    * Dedup.exact — so the finite-input result equals the batch twin the
    * oracle runs. Shingle-level overlap scoring stays a batch op
    * (Dedup.contamination / text_contamination). */
  def contaminationStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    // static side: the "benchmark suite" stand-in (docs 0..49), planned
    // once as a batch relation and broadcast into each micro-batch
    val bench = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 50)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
      .withColumn("_hit", lit(1))
    val flagged = src
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(broadcast(bench), Seq("fp"), "left_outer")
      .select(col("doc_id"), col("_hit").isNotNull.as("contaminated"))
    val qn = s"stream_contam_$sfName"
    withStatePartitions(spark, 8) {
      val q = flagged.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S27: streaming CONTAINMENT admission — the ingest face of L63's
    * asymmetric join, completing the dedup-admission matrix (exact S4,
    * near-dup S9, perceptual S10, fuzzy S22): "is this arriving document
    * mostly INSIDE something the corpus already has?" — the quote/
    * boilerplate/partial-copy gate doc-level hashes and symmetric
    * Jaccard both miss at the edge.
    *
    * Shape: the static side is the corpus's distinct-shingle INVERTED
    * INDEX (already the structure the pipeline maintains), planned once
    * and localCheckpointed; each micro-batch runs the containment join
    * as a BATCH job in foreachBatch — legitimate here because an
    * arrival's shingles all travel in its one record, so the per-pair
    * intersection count NEVER crosses micro-batches and the per-batch
    * aggregate is bit-equal to the global batch join. No prefix filter
    * on the arrival side (one doc per record; its candidate set is
    * already bounded by its own shingles × docfreq); results land in a
    * batch-id-partitioned parquet sink via DYNAMIC partition overwrite
    * (the S14 exactly-once shape): a replayed/retried micro-batch
    * rewrites exactly its own `_bid=` partition instead of appending a
    * duplicate copy. Self-pairs are excluded, so streaming the corpus
    * over its own index reproduces batch `dedup_containment` exactly —
    * the shared oracle. */
  def containmentStream(spark: SparkSession, sfDir: String,
                        minContainPct: Int = 60, shingle: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    // the session-cached corpus inverted index (shared with the batch
    // containment/jaccard/cascade family — built once per session)
    val statToks = graft.ops.Dedup.corpusShingles(spark, sfDir, shingle)
      .select(col("doc_id").as("id_b"), col("token"))
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    val outDir = s"${GraftPaths.tmpRoot}/contain_stream_out_$sfName"
    graft.zarr.Zarr.delete(outDir, recursive = true) // fresh build each run
    withStatePartitions(spark, 8) {
      val q = src.writeStream
        .foreachBatch(containmentBatch(statToks, minContainPct, shingle, outDir) _)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(outDir)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"))
  }

  /** The per-batch containment body, factored out so the idempotency
    * spec can replay a (batch, batchId) pair through the EXACT code path
    * the stream uses and assert convergence. */
  def containmentBatch(statToks: DataFrame, minContainPct: Int, shingle: Int,
                       outDir: String)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    // r21: the probe join runs in the HASH domain (the r20 batch-family
    // rationale, Dedup.jaccardJoinToks): 8-byte xxhash64 keys through the
    // arrival⋈index join instead of ~25-byte shingle strings. Counts are
    // shingle-SET cardinalities as before modulo the family's documented
    // ~2⁻⁵² in-doc collision envelope (both sides are distinct per doc).
    val a = graft.ops.Dedup.shingleToks(batch, "doc_id", "text", shingle)
      .select(col("doc_id").as("id_a"), xxhash64(col("token")).as("h"))
      .localCheckpoint() // feeds both the size aggregate and the probe
    val sz = a.groupBy(col("id_a")).agg(count(lit(1)).as("sz_a"))
    a.join(statToks.select(col("id_b"), xxhash64(col("token")).as("h")), Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sz, Seq("id_a"))
      .filter(col("inter") * 100 >= lit(minContainPct) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"),
        lit(batchId).as("_bid"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_bid").parquet(outDir)
    ()
  }

  /** S22: streaming FUZZY-MATCH admission (the ingest face of L47's
    * blocked entity-resolution join — the MDM "does this arriving record
    * already exist in the master?" gate): each arriving customer record
    * is resolved to its SINGLE BEST master match (min edit distance,
    * id tie-break, levenshtein ≤ 1) inside [[graft.ops.Dedup.fuzzyJoin]]'s
    * deterministic prefix blocks.
    *
    * Serving shape is the S17/S20/S21 model-literal pattern, NOT a join:
    * the master dimension is dimension-sized next to a 100 TB arrival
    * stream, so its block-purged form (≤ maxBlock candidates per block —
    * the fuzzyJoin cap; the ×10 replica's duplicate-name blocks measured
    * a join-shaped version at 98 s) collects ONCE into a blk→candidates
    * MAP literal, and each arrival is scored by a stateless per-row
    * argmin over its own bounded candidate list — no watermark, no state
    * store, no join, ONE OUTPUT ROW per matched arrival (a join emitted
    * every candidate pair — millions of memory-sink rows at sf1 for what
    * is a per-record DECISION). A master record arriving on the stream
    * resolves to itself at distance 0 — the dedupe-at-arrival signal.
    * The DuckDB oracle is the batch argmin (row_number rk=1 on
    * (dist, id2)) over the identically capped blocks. */
  def fuzzyAdmissionStream(spark: SparkSession, sfDir: String,
                           maxBlock: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions._
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/customer",
      _ => spark.read.parquet(s"$sfDir/customer.parquet").schema)
    // per-block candidate ARRAYS as a (blocks-count)-row static frame,
    // broadcast-hash-joined per micro-batch: O(1) block lookup (a map
    // LITERAL + element_at was measured at 81 s/batch on the ×10 replica
    // — GetMapValue linear-scans the literal per row). AFTER the cap (so
    // the candidate set matches the oracle's exactly), exact-duplicate
    // master NAMES collapse to their min-id representative: equal names
    // tie on dist and the argmin's id2 tie-break picks the min id anyway
    // — provably result-equal, and it undoes a duplicate-heavy corpus's
    // candidate inflation (the ×10 replica: 143 → 15 per arrival).
    val masterBlocks = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("id2"), col("c_name").as("k2"),
        expr("substring(c_name, 1, length(c_name) - 2)").as("blk"))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("id2"))))
      .filter(col("_rk") <= maxBlock)
      .groupBy(col("blk"), col("k2")).agg(min(col("id2")).as("id2"))
      .groupBy(col("blk"))
      .agg(collect_list(struct(col("id2"), col("k2"))).as("_cands"))
      .localCheckpoint() // static side: built once, reused every batch
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "customer"))
      // round-robin repartition: a micro-batch's parallelism otherwise
      // equals its FILE count, and a single-file arrival slab runs the
      // whole batch on one core (measured: 84 s for a 150k-row file);
      // the scoring below is per-row interpreted-lambda work, so the
      // one narrow shuffle of the arrival slab buys full-core scoring
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("c_custkey").as("id1"), col("c_name").as("k1"),
        expr("substring(c_name, 1, length(c_name) - 2)").as("blk"))
    val matched = src
      .join(broadcast(masterBlocks), Seq("blk"), "left_outer")
      // struct ordering = (dist, id2): array_min IS the argmin with the
      // oracle's exact tie rule; levenshtein runs once per candidate
      .withColumn("_best", expr(
        "array_min(transform(_cands, c -> " +
          "struct(CAST(levenshtein(k1, c.k2) AS BIGINT) AS dist, c.id2 AS id2)))"))
      .filter(col("_best.dist") <= 1)
      .select(col("id1"), col("_best.id2").as("id2"), col("_best.dist").as("dist"))
    val qn = s"stream_fuzzy_$sfName"
    withStatePartitions(spark, 8) {
      val q = matched.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S17: streaming CLASSIFIER admission — the quality/langid filter at
    * the ingest edge, in the serving shape production uses: the Naive
    * Bayes model (L31) is trained batch-side, collected once
    * (model-sized — the ivfModel/bloom parameter pattern; vocab capped
    * like any shipped fastText-style filter), and entered as MAP
    * LITERALS in a per-row scoring expression. Scoring is then pure
    * row-local arithmetic — `aggregate` over the token array + `least`
    * over (score, label) structs — so the stream stays STATELESS: no
    * watermark, no state store, no aggregation; every micro-batch is a
    * map. Output (doc_id, pred, cost_micro) is bit-equal to the batch
    * text_classify query (same LnFix integers, same tie-break), so the
    * DuckDB oracle is shared verbatim. */
  def classifyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    // UNCAPPED vocabulary: this query is documented bit-equal to batch
    // text_classify and shares its oracle, so the serving-size cap (an
    // opt-in naiveBayesModel knob) must not silently drop tokens here —
    // a capped model would diverge from both once corpus vocab > cap.
    // Fit ONCE per (session, corpus) via the shared model cache.
    val model = graft.ops.TextOps.nbLiteralModelCached(spark, sfDir)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    // X15 kernel: all per-label cost sums in ONE token walk per record
    // (the per-label aggregate/element_at lambdas this replaces are
    // CodegenFallback — measured 92 s at the sf10 gate, interpreted);
    // priors stay outside, added per label on the shared array
    val costs = graft.functions.TokenScore.nbCosts(col("text"),
      model.map(_._4), model.map(_._3))
    val scored = model.zipWithIndex.map { case ((label, prior, _, _), i) =>
      struct((lit(prior) + element_at(costs, i + 1)).as("s"),
        lit(label).as("l"))
    }
    val best = least(scored: _*)
    val out = src.select(col("doc_id"), best.getField("l").as("pred"),
      best.getField("s").as("cost_micro"))
    val qn = s"stream_classify_$sfName"
    withStatePartitions(spark, 8) {
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** The literal-model per-record BM25 scoring column shared by S24
    * (stream_bm25) and S25 (stream_hybrid_rrf): since r16 ONE call of
    * the X14 [[graft.functions.Bm25Score]] kernel — one token walk per
    * record, all term frequencies counted in that walk, each hit term
    * one BigInteger floor division. The per-term
    * `size(filter(_toks, _ === term))` HOF chain this replaces is
    * CodegenFallback (interpreted + an array allocation per term per
    * record — the DsirScore/X13 finding, third occurrence); the kernel
    * is bit-equal to it AND to the batch `_kw` (differential spec +
    * the stream==batch specs + the shared SQL oracle). Returns
    * (doc_id, bm25_micro). */
  private def bm25ScoreCols(src: DataFrame, terms: Seq[String],
                            idf: Map[String, Long], n: Long,
                            tl: Long): DataFrame =
    src.select(col("doc_id"),
      graft.functions.Bm25Score.score(
        col("text"), terms.filter(idf.contains), idf, n, tl).as("bm25_micro"))

  /** S24: streaming BM25 RELEVANCE scoring at the ingest edge — the
    * serving face of the L51 keyword side: each arriving document gets
    * its exact-integer Okapi BM25 score against a fixed query-term set
    * under the BATCH-fitted model ([[graft.ops.Similarity.bm25Model]]:
    * |terms| idf micro-nats + two corpus scalars, collected once and
    * entering the stream plan as literals — the stream_classify
    * contract). Per record the work is one split + |terms| codegen'd
    * array filters + the same decimal(38,0) floor divisions the batch
    * query runs, so stream and batch scores are BIT-EQUAL and the query
    * shares the batch SQL oracle verbatim. Stateless — no watermark
    * state; docs scoring 0 (no query term) are not admitted. */
  def bm25Stream(spark: SparkSession, sfDir: String,
                 terms: Seq[String]): DataFrame = {
    import graft.ops.Similarity
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    // r21: fitted once per (session, corpus, terms) — shared with S25
    val (idf, n, tl) = Similarity.bm25ModelCached(spark, sfDir, terms)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    val out = bm25ScoreCols(src, terms, idf, n, tl)
      .filter(col("bm25_micro") > 0)
    val qn = s"stream_bm25_$sfName"
    withStatePartitions(spark, 8) {
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** S25: streaming HYBRID retrieval admission — the serving face of the
    * L51 FUSED ranking, not just its BM25 keyword side (that is S24):
    * each arriving document is scored against THREE static literal
    * models collected from the batch index build — the BM25 term model,
    * the batch KEYWORD POOL (top-poolK (score, id), the
    * [[graft.ops.Similarity.bm25KwPoolDf]] construction, so stream and
    * batch cannot drift) and the batch VECTOR ranking (top-poolK id→rank
    * from [[graft.ops.Similarity.vecPoolDf]]) — and fused by the same
    * pure-BIGINT RRF. kw_rank is derived ARITHMETICALLY against the pool
    * literals: 1 + |pool entries ordered before this doc's (score, id)|,
    * and a doc whose rank falls past the pool is not a member (rank 0) —
    * exactly the batch full-outer semantics, with no per-record index
    * probe. Stateless: both pools are parameter-sized literal arrays
    * (≤ poolK entries, the stream_classify collection contract). Rows
    * out are docs present in EITHER pool, which on corpus replay equals
    * the batch hybrid table pre-top-k — the query shares the batch SQL
    * oracle minus its final LIMIT, and StreamingSpec pins stream ==
    * batch bit-equality. */
  def hybridRrfStream(spark: SparkSession, sfDir: String,
                      terms: Seq[String], q: Array[Double],
                      poolK: Int = 100): DataFrame = {
    import graft.ops.Similarity
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    // the BM25 model and both pools come from the in-session cache — the
    // SAME pool frames the batch hybrid query fuses (bm25KwPoolCached /
    // vecPoolCached re-apply the defining order over the checkpoint, so
    // the collected pool order is the fresh build's)
    val (idf, n, tl) = Similarity.bm25ModelCached(spark, sfDir, terms)
    val kwPool = Similarity.bm25KwPoolCached(spark, sfDir, terms, poolK)
      .collect().map(r => (r.getLong(0), r.getLong(1))) // (id, _kw), pool order
    val vecRanks = Similarity.vecPoolCached(spark, sfDir, q, poolK)
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1).toLong }.toMap
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
    // rank arithmetic as an UNROLLED literal comparison sum (one codegen'd
    // boolean add per pool entry), NOT a zip_with/aggregate lambda pair:
    // higher-order array functions evaluate interpreted per row — measured
    // 91 s for the one micro-batch at sf0.1 vs ~3 s unrolled
    val before = kwPool.map { case (pid, ps) =>
      when(lit(ps) > col("bm25_micro") ||
        (lit(ps) === col("bm25_micro") && lit(pid) < col("doc_id")), lit(1L))
        .otherwise(lit(0L))
    }.reduceOption((a, b) => a + b).getOrElse(lit(0L))
    import spark.implicits._
    val scored = bm25ScoreCols(src, terms, idf, n, tl)
      // typed identity barrier: without it CollapseProject inlines the
      // whole decimal scoring expression into every one of the ~200
      // literal comparisons below (measured: 91 s/batch interpreted via
      // the HOF form, ~19 s driver analysis+codegen unrolled); across
      // the object boundary bm25_micro is ONE attribute computed once
      // per record, and the rank sum is 100 codegen'd long compares
      .as[(Long, Long)].map(identity).toDF("doc_id", "bm25_micro")
    val out = scored
      // member iff positive score AND rank within the realized pool
      // (an underfull pool admits every positive doc — same invariant)
      .withColumn("kw_rank",
        when(col("bm25_micro") > 0 && before < lit(kwPool.length.toLong),
          before + 1L).otherwise(lit(0L)))
      .withColumn("vec_rank",
        coalesce(element_at(typedLit(vecRanks), col("doc_id")), lit(0L)))
      .filter(col("kw_rank") > 0 || col("vec_rank") > 0)
      .selectExpr("doc_id AS id",
        "CAST(CASE WHEN kw_rank > 0 THEN 1000000000 div (60 + kw_rank) ELSE 0 END + " +
          "CASE WHEN vec_rank > 0 THEN 1000000000 div (60 + vec_rank) ELSE 0 END " +
          "AS BIGINT) AS rrf",
        "kw_rank", "vec_rank")
    val qn = s"stream_hybrid_rrf_$sfName"
    withStatePartitions(spark, 8) {
      val sq = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try sq.processAllAvailable() finally sq.stop()
    }
    spark.table(qn)
  }

  /** Streaming near-dup ADMISSION — the dedup-at-ingest shape of a
    * training-data pipeline: each incoming document (here the doc_id % 5
    * == 0 fifth of the corpus, arriving as a stream) is MinHash-signed by
    * the scalar [[graft.functions.MinHashSig]] kernel INSIDE the stream
    * scan (one pass, no aggregate state), banded, and joined against a
    * static LSH band index of the resident corpus — a stateless
    * stream-static join, so the only streaming state is the source
    * bookkeeping, and the index is a batch relation the planner may
    * broadcast or shuffle per micro-batch as its size dictates.
    * Candidates stream out append-mode; the exact-Jaccard verify runs
    * once on the candidate-bounded set after ingest (batch post-pass, as
    * production would verify asynchronously) and keeps pairs ≥ minJ.
    * Output: (in_id, corpus_id, jaccard) — the incoming docs to reject.
    * rows-only (xxhash64/minhash is Spark-only); StreamingSpec pins
    * stream candidates == the batch pipeline's on the same split. */
  def nearDupStream(spark: SparkSession, sfDir: String,
                    bandsN: Int = 16, rowsPerBand: Int = 8,
                    minJ: Double = 0.8): DataFrame = {
    import graft.ops.Dedup
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
      .filter(col("doc_id") % 5 === 0)
    val banded = Dedup.bands(
      Dedup.minhashSignatures(src, "doc_id", "text", bandsN * rowsPerBand, 5),
      bandsN, rowsPerBand)
      .withColumnRenamed("doc_id", "in_id")
    val resident = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 5 =!= 0)
    val idx = Dedup.bands(
      Dedup.minhashSignatures(resident, "doc_id", "text", bandsN * rowsPerBand, 5),
      bandsN, rowsPerBand)
      .withColumnRenamed("doc_id", "corpus_id")
    val cands = banded.join(idx, Seq("band", "bucket"))
      .select(col("in_id"), col("corpus_id"))
    val qn = s"stream_neardup_$sfName"
    withStatePartitions(spark, 8) {
      val q = cands.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val pairs = spark.table(qn).distinct()
      .select(col("in_id").as("id1"), col("corpus_id").as("id2"))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Dedup.jaccardVerify(pairs, docs, "doc_id", "text", 5)
      .filter(col("jaccard") >= minJ)
      .select(col("id1").as("in_id"), col("id2").as("corpus_id"), col("jaccard"))
  }

  /** Streaming PERCEPTUAL admission — the multimodal face of
    * [[nearDupStream]]: each incoming document's image payload (the
    * bucket-pattern media) is decoded and aHashed by the REAL out-of-JVM
    * codec child INSIDE the stream's mapPartitions (one child per
    * micro-batch partition — the amortization contract unchanged), then
    * joined stateless against the resident corpus's hash index; a match
    * marks the incoming image a perceptual duplicate of `dup_of`. The
    * pattern construction keeps the hash SQL-predictable, so unlike the
    * minhash twin this streaming admission is fully ORACLE-CHECKED. */
  def phashStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Multimodal
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val raw = schemas.computeIfAbsent(s"$sfDir/documents",
      _ => spark.read.parquet(s"$sfDir/documents.parquet").schema)
    val src = spark.readStream.schema(raw)
      .parquet(linkedTableDir(sfDir, sfName, "documents"))
      .filter(col("doc_id") % 5 === 0)
    val ph = Multimodal.phashReal(src, "doc_id") // typed map + mapPartitions: streaming-safe
    val residentIdx = Multimodal.phashReal(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 5 =!= 0), "doc_id")
      .groupBy(col("phash")).agg(min(col("doc_id")).as("dup_of"))
    val flagged = ph
      .join(broadcast(residentIdx), Seq("phash"), "left_outer")
      .select(col("doc_id"), col("phash"), col("dup_of"))
    val qn = s"stream_phash_$sfName"
    withStatePartitions(spark, 8) {
      val q = flagged.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** Streaming DRIFT monitor — the per-window face of
    * [[graft.ops.TextOps.driftReport]]: each event-time hour's
    * event-value distribution (5 fixed $25 bins) scored against the
    * corpus-global reference with the same Laplace-smoothed PSI term.
    * The streaming side is ONE watermarked windowed count (state =
    * windows × 5 bins); the PSI math runs on the aggregated (dashboard-
    * sized) output with the global reference as a broadcast batch
    * relation. An operator watches the psi column to catch an hour whose
    * traffic mix shifted. Exact integer counts + deterministic double
    * ops → fully oracle-checked. */
  def driftStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (stream, sfName) = eventsStream(spark, sfDir)
    def binCol = least(lit(4), greatest(lit(0), floor(col("value") / 25))).cast("int")
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), binCol.as("bin"))
      .agg(count(lit(1)).as("n"))
    val qn = s"stream_drift_$sfName"
    // complete-mode: no-data batch output-neutral (see windowAgg)
    withStatePartitions(spark, 8, noDataBatch = false) {
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    val cur = spark.table(qn).select(
      unix_timestamp(col("window.start").cast("timestamp")).as("ws"),
      col("bin"), col("n"))
    // global reference: the static table's full-history distribution
    val events = graft.Tables.events(spark, sfDir)
    val ref = events.groupBy(binCol.as("bin")).agg(count(lit(1)).as("ref_n"))
    val refTot = events.count().toDouble + 5
    import spark.implicits._
    val bins = spark.range(5).select(col("id").cast("int").as("bin"))
    val grid = cur.select(col("ws")).distinct().crossJoin(bins)
    val full = grid
      .join(cur, Seq("ws", "bin"), "left_outer")
      .join(broadcast(bins.join(ref, Seq("bin"), "left_outer")
        .select(col("bin"), coalesce(col("ref_n"), lit(0L)).as("ref_n"))), Seq("bin"))
      .select(col("ws"), col("bin"), coalesce(col("n"), lit(0L)).as("n"), col("ref_n"))
    val wtot = full.groupBy(col("ws")).agg(sum(col("n")).as("_wt"))
    val p = (col("ref_n") + 1.0) / refTot
    val q = (col("n") + 1.0) / (col("_wt") + 5.0)
    full.join(wtot, Seq("ws"))
      .select(col("ws"), col("bin"), col("n"),
        (round((p - q) * log(p / q), 6) + 0.0).as("psi_term"))
  }

  // ---- stateful sessionization (flatMapGroupsWithState) ----

  final case class Ev(user_id: Long, event_id: Long, es: Long)
  final case class SessState(sessionId: Long, startEs: Long, lastEs: Long, n: Long)
  final case class SessOut(user_id: Long, session_id: Long, n_events: Long, dur_secs: Long)

  val GapSecs = 1800L

  /** Emits a session when a new event arrives past the gap; the still-open
    * session stays in state (flushed by a later event, or by the caller
    * feeding a sentinel / relying on timeout in a real deployment). */
  def sessionFn(userId: Long, evs: Iterator[Ev],
                state: GroupState[SessState]): Iterator[SessOut] = {
    val sorted = evs.toSeq.sortBy(e => (e.es, e.event_id))
    var out = List.empty[SessOut]
    var st = state.getOption.orNull
    sorted.foreach { e =>
      if (st == null) st = SessState(1L, e.es, e.es, 1L)
      else if (e.es - st.lastEs > GapSecs) {
        out ::= SessOut(userId, st.sessionId, st.n, st.lastEs - st.startEs)
        st = SessState(st.sessionId + 1, e.es, e.es, 1L)
      } else st = st.copy(lastEs = e.es, n = st.n + 1)
    }
    if (st != null) state.update(st)
    out.reverseIterator
  }

  final case class QuotaState(admitted: Long)
  final case class QuotaOut(user_id: Long, event_id: Long, rk: Long)

  /** Streaming per-key ADMISSION CONTROL (quota / rate limiting at the
    * ingest edge — the streaming face of [[graft.ops.Sampling.quotaSample]]'s
    * per-source cap): admit only the first `n` events per key, then drop.
    * State is ONE counter per key — bounded by key cardinality, never by
    * stream length — and an admitted row carries its admission rank.
    * Within each micro-batch the group sorts by (event time, id), so for
    * a finite single-batch input the admitted set is EXACTLY the batch
    * `row_number() ≤ n` in event-time order (the oracle); under continuous
    * ingest which n win depends on batch arrival, the standard streaming
    * admission semantics. */
  def quotaFn(n: Long)(userId: Long, evs: Iterator[Ev],
                       state: GroupState[QuotaState]): Iterator[QuotaOut] = {
    val sorted = evs.toSeq.sortBy(e => (e.es, e.event_id))
    var c = state.getOption.map(_.admitted).getOrElse(0L)
    var out = List.empty[QuotaOut]
    sorted.foreach { e =>
      if (c < n) { c += 1; out ::= QuotaOut(userId, e.event_id, c) }
    }
    state.update(QuotaState(c))
    out.reverseIterator
  }

  final case class TEv(user_id: Long, event_id: Long, es: Long, t: String)
  final case class TransState(lastEs: Long, lastId: Long, lastType: String)
  final case class TransOut(user_id: Long, from_type: String, to_type: String)

  /** S28: streaming TRANSITION tracking — the stateful stream face of
    * R68's Markov matrix ("after a click, what happens next?" maintained
    * AT the ingest edge): per-user state is exactly ONE last-event
    * record (bounded by key cardinality, never stream length); each
    * arrival emits its (prev → curr) pair and replaces the state.
    * Within a micro-batch the group sorts by (event-time micros, id) —
    * for the finite single-batch input the emitted pairs are EXACTLY
    * the batch lead window's (the quotaFn determinism contract), so the
    * aggregated matrix shares q65's oracle; under continuous ingest the
    * state seam makes pairs span batches correctly by construction. */
  def transitionFn(userId: Long, evs: Iterator[TEv],
                   state: GroupState[TransState]): Iterator[TransOut] = {
    val sorted = evs.toSeq.sortBy(e => (e.es, e.event_id))
    var st = state.getOption.orNull
    var out = List.empty[TransOut]
    sorted.foreach { e =>
      if (st != null) out ::= TransOut(userId, st.lastType, e.t)
      st = TransState(e.es, e.event_id, e.t)
    }
    if (st != null) state.update(st)
    out.reverseIterator
  }

  /** Per-user transition pairs over a stream of TEv (MemoryStream-testable). */
  def transitions(evs: org.apache.spark.sql.Dataset[TEv])
      : org.apache.spark.sql.Dataset[TransOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(transitionFn)
  }

  /** S28 driven over the events file stream; the matrix aggregate runs
    * on the emitted pair sink (types²-sized post-pass, the topkStream
    * precedent). */
  def transitionStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (src, sfName) = eventsStream(spark, sfDir)
    val evs = src.select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("es"),
        col("event_type").as("t")).as[TEv]
    val qn = s"stream_transitions_$sfName"
    withStatePartitions(spark, 8) {
      val q = transitions(evs).writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
  }

  /** Per-key quota over a stream of Ev (MemoryStream-testable twin). */
  def quota(evs: org.apache.spark.sql.Dataset[Ev], n: Long): org.apache.spark.sql.Dataset[QuotaOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(quotaFn(n))
  }

  /** Streaming quota driven over the events file stream: first 5 events
    * per user in event-time order (single finite batch → deterministic,
    * oracle-checked against the batch window rank). */
  def quotaStream(spark: SparkSession, sfDir: String, n: Long = 5L): DataFrame = {
    import spark.implicits._
    val (src, sfName) = eventsStream(spark, sfDir)
    val evs = src.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("es")).as[Ev]
    val qn = s"stream_quota_$sfName"
    withStatePartitions(spark, 8) {
      val q = quota(evs, n).writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  /** Streaming sessionization over a stream of Ev. Used with MemoryStream
    * in tests; semantics match Relational.q13Sessionize for closed sessions. */
  def sessionize(evs: org.apache.spark.sql.Dataset[Ev]): org.apache.spark.sql.Dataset[SessOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionFn)
  }

  /** Stateful sessionization driven over the events file stream. The
    * finite input arrives in one batch, so the emitted result is exactly
    * the CLOSED sessions — every session except each user's last (which
    * stays open in state, awaiting more data / a timeout in production).
    * That set is deterministic and batch-expressible, so it oracle-checks. */
  def sessionizeStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (src, sfName) = eventsStream(spark, sfDir)
    val evs = src.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("es")).as[Ev]
    val qn = s"stream_sess_$sfName"
    withStatePartitions(spark, 8) {
      val q = sessionize(evs).writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn)
  }

  // ---- state lifecycle: event-time TTL for the stateful family (S29) ----

  final case class EvW(user_id: Long, event_id: Long, es: Long,
                       ts: java.sql.Timestamp)

  /** S29: state LIFECYCLE for the flatMapGroupsWithState family (the r16
    * verdict ask): without a timeout, per-key state lives forever — fine
    * for finite test streams, a leak on an unbounded 100 TB ingest where
    * the key universe grows without bound. These variants run the SAME
    * per-key logic under `GroupStateTimeout.EventTimeTimeout` with a TTL
    * armed at `lastEventTime + ttlSecs`: when the WATERMARK (not wall
    * clock — deterministic, replayable) passes it, the key's state is
    * dropped; a later re-arrival re-initializes from scratch. Sessionize
    * additionally EMITS the open session on expiry — the production
    * flush for each user's last session, which the no-timeout variant
    * leaves in state forever.
    *
    * Equality contract (spec-pinned): within the TTL horizon — no key
    * silent longer than the TTL — outputs are identical to the
    * no-timeout variants, which is the stream==batch contract those
    * already carry. Expiry only adds the flush/reset behavior at the
    * horizon, orthogonal to the per-key logic (which is literally the
    * same function, called by these wrappers). `es` carries epoch
    * SECONDS in the TTL variants (the Ev convention; arm-time math is
    * (lastEs + ttlSecs)·1000 ms).
    *
    * Deployment contract: state is per-key-bounded (one record) either
    * way; the TTL bounds the KEY UNIVERSE a store retains. On a real
    * cluster run this with the RocksDB state store
    * (`spark.sql.streaming.stateStore.providerClass` = RocksDB provider)
    * so state lives off-heap/on-disk, and set
    * `spark.sql.streaming.stateStore.rocksdb.compactOnCommit` per the
    * churn profile; the event-time TTL here is the portable layer on
    * top — it works identically on the HDFS-backed store in tests. */
  def sessionFnTtl(ttlSecs: Long)(userId: Long, evs: Iterator[EvW],
                                  state: GroupState[SessState]): Iterator[SessOut] = {
    if (state.hasTimedOut) {
      // the horizon flush: emit the still-open session, drop the key
      val st = state.get
      state.remove()
      Iterator.single(SessOut(userId, st.sessionId, st.n, st.lastEs - st.startEs))
    } else {
      val out = sessionFn(userId,
        evs.map(e => Ev(e.user_id, e.event_id, e.es)), state)
      state.getOption.foreach(st =>
        state.setTimeoutTimestamp((st.lastEs + ttlSecs) * 1000L))
      out
    }
  }

  def sessionizeTtl(evs: org.apache.spark.sql.Dataset[EvW],
                    ttlSecs: Long): org.apache.spark.sql.Dataset[SessOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.withWatermark("ts", "0 seconds").groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionFnTtl(ttlSecs))
  }

  /** Quota under TTL: a key silent past the TTL loses its counter — the
    * admission budget RESETS after inactivity (rate-limiter semantics);
    * timeout emits nothing. */
  def quotaFnTtl(n: Long, ttlSecs: Long)(userId: Long, evs: Iterator[EvW],
                                         state: GroupState[QuotaState]): Iterator[QuotaOut] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val evList = evs.toSeq
      val out = quotaFn(n)(userId,
        evList.iterator.map(e => Ev(e.user_id, e.event_id, e.es)), state)
      // quota state carries no timestamp: arm from this batch's max
      // event time (the group is non-empty on the data path)
      state.setTimeoutTimestamp((evList.map(_.es).max + ttlSecs) * 1000L)
      out
    }
  }

  def quotaTtl(evs: org.apache.spark.sql.Dataset[EvW], n: Long,
               ttlSecs: Long): org.apache.spark.sql.Dataset[QuotaOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.withWatermark("ts", "0 seconds").groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(quotaFnTtl(n, ttlSecs))
  }

  final case class TEvW(user_id: Long, event_id: Long, es: Long, t: String,
                        ts: java.sql.Timestamp)

  /** Transitions under TTL: expiry forgets the last event, so a
    * re-arrival starts a fresh chain (no pair spans the silence gap —
    * the Markov-estimate hygiene for abandoned sessions). */
  def transitionFnTtl(ttlSecs: Long)(userId: Long, evs: Iterator[TEvW],
                                     state: GroupState[TransState]): Iterator[TransOut] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val out = transitionFn(userId,
        evs.map(e => TEv(e.user_id, e.event_id, e.es, e.t)), state)
      state.getOption.foreach(st =>
        state.setTimeoutTimestamp((st.lastEs + ttlSecs) * 1000L))
      out
    }
  }

  def transitionsTtl(evs: org.apache.spark.sql.Dataset[TEvW],
                     ttlSecs: Long): org.apache.spark.sql.Dataset[TransOut] = {
    val spark = evs.sparkSession
    import spark.implicits._
    evs.withWatermark("ts", "0 seconds").groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(transitionFnTtl(ttlSecs))
  }

  /** S13: NATIVE session windows — Spark's built-in merging
    * `session_window` aggregation (the state-store mechanism, distinct
    * from [[sessionize]]'s hand-rolled flatMapGroupsWithState path): per
    * user, events within ≤ 30 min of the running window MERGE into one
    * window [first, last + gap) — the boundary is INCLUSIVE (an event at
    * exactly prev + gap merges; pinned by the StreamingSpec boundary
    * test, which fixes the oracle's break rule to STRICT diff > gap).
    * All arithmetic stays in exact MICROSECONDS
    * (every event here carries sub-second components; a floor-to-seconds
    * oracle would merge differently), and the append-mode emission rule
    * is mirrored exactly: watermark delay 0 → watermark = the max event
    * time FLOORED TO MILLISECONDS (Spark tracks event-time stats in ms),
    * and a session emits iff its end ≤ that watermark — so each user's
    * tail session stays open in state, exactly like production. The
    * oracle recomputes gaps-and-islands in BIGINT micros and applies the
    * same ms-floored cutoff. */
  def sessionWindowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val (stream, sfName) = eventsStream(spark, sfDir)
    val agg = stream
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    val qn = s"sess_win_$sfName"
    withStatePartitions(spark, 8) {
      val q = agg.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(qn).select(col("user_id"),
      unix_micros(col("session_window.start").cast("timestamp")).as("ss_us"),
      unix_micros(col("session_window.end").cast("timestamp")).as("se_us"),
      col("n_events"))
  }

  /** S14: exactly-once partitioned EXPORT from a stream — foreachBatch +
    * DYNAMIC partition overwrite, the production pattern for streaming
    * into a Hive-layout lake table. The source is staged one file per
    * DAY-ALIGNED 10-day band and read one file per micro-batch, so each
    * batch owns whole day-partitions; the batch write overwrites exactly
    * the partitions it touches (`partitionOverwriteMode=dynamic`).
    * REPROCESSING a batch (the failure/retry path) therefore converges
    * to byte-identical partitions instead of duplicating rows — the
    * idempotency StreamingSpec re-runs a batch to prove. Money is exact
    * integer cents; the read-back aggregate oracle-checks against the
    * raw events. */
  def exportStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val ev = graft.Tables.events(spark, sfDir).select(
      to_date(col("ts")).as("day"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val banded = ev.withColumn("band",
      expr("datediff(day, DATE'1970-01-01') div 10"))
    val srcDir = s"${GraftPaths.tmpRoot}/export_stream_src_$sfName"
    banded.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(srcDir)

    val outDir = s"${GraftPaths.tmpRoot}/export_stream_out_$sfName"
    graft.zarr.Zarr.delete(outDir, recursive = true) // fresh build each run
    val stream = spark.readStream
      .schema("day DATE, event_type STRING, cents LONG, band LONG")
      // r21 (r20 verdict #1): several band files per micro-batch — each
      // batch still owns WHOLE day-partitions (bands are day-aligned and
      // disjoint), so the dynamic-overwrite exactly-once contract and the
      // final table are unchanged, while the per-batch machinery tax
      // (IncrementalExecution re-plan + offset/commit log + one write job
      // per batch) is paid ~2× instead of 15×. Production sizes this to
      // arrival rate; 1 restores the one-band-per-batch shape.
      .option("maxFilesPerTrigger", 8)
      .parquet(srcDir)
    withStatePartitions(spark, 8) {
      val q = stream.writeStream.foreachBatch(exportBatch(outDir) _).start()
      try q.processAllAvailable() finally q.stop()
    }
    readExport(spark, outDir)
  }

  /** S19: streaming keyed-snapshot UPSERT (lakehouse SCD1 maintenance):
    * each micro-batch MERGEs its per-user latest event into a persistent
    * snapshot table — the materialized "current state per key" a serving
    * layer reads. Merge rule: keep the (es, event_id)-max row per user
    * (unique, so deterministic); re-applying a batch is a no-op, which
    * is the exactly-once property (idempotent-merge spec re-runs a batch
    * through this exact body). The snapshot is bucket-partitioned by
    * user hash; each batch localCheckpoints the merged frame BEFORE the
    * dynamic partition overwrite so the write never races its own input
    * files, and only buckets touched by the batch are rewritten — at
    * scale a batch rewrites batch-keys/16 of the snapshot, not all of
    * it. */
  def upsertStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val (stream, _) = eventsStream(spark, sfDir)
    val outDir = s"${GraftPaths.tmpRoot}/upsert_snap_$sfName"
    graft.zarr.Zarr.delete(outDir, recursive = true) // fresh build each run
    withStatePartitions(spark, 8) {
      val q = stream.writeStream.foreachBatch(upsertBatch(outDir) _).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(outDir)
      .select(col("user_id"), col("last_es"), col("last_type"), col("last_cents"))
  }

  /** The per-batch upsert body (factored out for the idempotency spec). */
  def upsertBatch(outDir: String)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    val latest = batch.select(col("user_id"),
        struct(unix_timestamp(col("ts").cast("timestamp")).as("last_es"),
          col("event_id"), col("event_type").as("last_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("last_cents")).as("_m"))
      .groupBy(col("user_id")).agg(max(col("_m")).as("_m"))
      .withColumn("bucket", pmod(col("user_id"), lit(16)).cast("int"))
      .localCheckpoint() // consumed twice (bucket list + merge)
    // only the buckets this batch touches participate in the merge; the
    // dynamic overwrite below leaves every other bucket's files alone
    val buckets = latest.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤16 ints — parameter-sized
    val merged = (
      if (new java.io.File(outDir).exists())
        spark.read.schema("user_id LONG, last_es LONG, event_id LONG, " +
            "last_type STRING, last_cents LONG, bucket INT")
          .parquet(outDir)
          .filter(col("bucket").isin(buckets: _*))
          .select(col("user_id"), struct(col("last_es"), col("event_id"),
            col("last_type"), col("last_cents")).as("_m"), col("bucket"))
          .unionByName(latest)
      else latest)
      .groupBy(col("user_id"), col("bucket")).agg(max(col("_m")).as("_m"))
      .select(col("user_id"), col("_m.last_es"), col("_m.event_id"),
        col("_m.last_type"), col("_m.last_cents"), col("bucket"))
      // pin BEFORE overwriting: the merged frame must not lazily re-read
      // the files the write below replaces
      .localCheckpoint()
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(outDir)
    ()
  }

  /** The per-batch export body, factored out so the idempotency test can
    * re-run a batch through the EXACT code path the stream uses. */
  def exportBatch(outDir: String)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    batch.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(outDir)
    ()
  }

  /** Read the exported lake table back in oracle-comparable form. */
  def readExport(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir).select(
      date_format(col("day"), "yyyy-MM-dd").as("day"),
      col("event_type"), col("n"), col("cents"))

  /** The fixed event-type alphabet (q23's pivot list) as column indices. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Streaming → Zarr INCREMENTAL ARRAY INGESTION: micro-batches of the
    * event stream append chunk-aligned slabs of an (hour × event-type)
    * cents matrix to one Zarr store — the continuous-array-build pattern
    * (telemetry matrices, training-signal grids) running on the DSv2
    * sink's append mode.
    *
    * Correct-by-construction slabs: the source is staged as one file per
    * `bandHours` time band, the stream reads one FILE per micro-batch, and
    * chunkRows == bandHours — so each batch's cells cover exactly its own
    * chunk rows and an append can never replace another batch's chunk.
    * Batch ORDER doesn't matter (bands are disjoint; shape grows to the
    * max seen). At 100 TB this is the production shape: one micro-batch =
    * one time slab = whole chunks, appended while the store stays readable
    * (metadata commits last per batch).
    *
    * Returns the final store read back dense — checked against a DuckDB
    * twin computing the same dense grid from the raw events. */
  def zarrIngestStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val bandHours = 240
    val ev = graft.Tables.events(spark, sfDir).select(
      (unix_timestamp(col("ts")).cast("long") / 3600L).cast("long").as("hAbs"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val bounds = ev.agg(min(col("hAbs")), max(col("hAbs"))).head()
    val (h0, hMax) = (bounds.getLong(0), bounds.getLong(1))
    val nHours = hMax - h0 + 1
    // unknown/null event_type FAILS the batch instead of flowing a -1
    // column index into the chunk buffer (which would corrupt a neighbor
    // cell or crash mid-write) — and instead of silently diverging from
    // the oracle twin's CASE
    val typeIdx = EventTypes.zipWithIndex
      .foldLeft(raise_error(concat(lit("unknown event_type: "),
        coalesce(col("event_type"), lit("NULL")))).cast("int")) {
        case (acc, (t, i)) => when(col("event_type") === t, lit(i)).otherwise(acc) }
    val banded = ev.select((col("hAbs") - h0).as("h"), typeIdx.cast("long").as("t"),
        col("cents"))
      .withColumn("band", expr(s"h div ${bandHours}L"))

    // stage UNCONDITIONALLY (overwrite): a _SUCCESS-keyed reuse served
    // stale bands when the events data under the same sf dir changed
    // (regenerated test data), while nHours was recomputed fresh — the
    // rows==nHours require then failed confusingly or, worse, passed on
    // stale cells. Absolute paths: the relative form depended on CWD,
    // unlike SparkEntry's zarr queries.
    val srcDir = s"${GraftPaths.tmpRoot}/zarr_ingest_src_$sfName"
    banded.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(srcDir)

    val store = s"${GraftPaths.tmpRoot}/zarr_ingest_store_$sfName"
    Zarr.delete(store, recursive = true) // fresh build each run
    val stream = spark.readStream
      .schema("h LONG, t LONG, cents LONG, band LONG") // band = partition dir col
      // r21: several whole bands per micro-batch (was 1). The batch body is
      // already chunk-index-driven (ci = h div bandHours) and the zarr sink
      // clusters+sorts on (ci, cj), so a multi-band batch appends each of
      // its whole chunks exactly as the per-band batches did — identical
      // store, ~2 micro-batches + write jobs instead of 15.
      .option("maxFilesPerTrigger", 8)
      .parquet(srcDir)
    withStatePartitions(spark, 8) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.groupBy(col("h"), col("t"))
            .agg(sum(col("cents")).cast("double").as("v"))
            .select(expr(s"h div ${bandHours}L").as("ci"), lit(0L).as("cj"),
              col("h").as("i"), col("t").as("j"), col("v"))
            .write.format("zarr")
            .option("chunkRows", bandHours.toString).option("chunkCols", "5")
            .option("cols", "5").option("fill", "0.0")
            .mode("append").save(store)
          ()
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    require(Zarr.readMeta(store).rows == nHours,
      s"ingested store spans ${Zarr.readMeta(store).rows} hours, expected $nHours")
    Zarr.read(spark, store).cells
  }

  /** S30: streaming → rank-3 Zarr TENSOR ingestion (the S7 pattern at
    * tensor rank — sensor cubes, telemetry grids, training-signal
    * tensors): micro-batches of the event stream publish chunk-aligned
    * axis-0 (time) bands of an (hour × event-type × user-shard) cents
    * cube into one ZarrNd store via [[graft.zarr.ZarrNd.appendBand]].
    *
    * Same correct-by-construction slabs as S7: one staged file per time
    * band, one file per micro-batch, axis-0 chunk == band height, so a
    * batch only ever writes its own chunks and band ORDER doesn't matter;
    * the metadata document commits last per band, and every stored chunk
    * is full chunk shape (the padding rule), so even the ragged final
    * band never forces a read-modify-write. Returns the final store read
    * back DENSE — the DuckDB twin builds the same dense cube from the
    * raw events (fill cells included, so a zero-cents cell is
    * indistinguishable from absent by VALUE in both engines). */
  def tensorIngestStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sfName = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val bandHours = 240
    val uShards = 4
    val ev = graft.Tables.events(spark, sfDir).select(
      (unix_timestamp(col("ts")).cast("long") / 3600L).cast("long").as("hAbs"),
      col("event_type"), col("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val bounds = ev.agg(min(col("hAbs")), max(col("hAbs"))).head()
    val (h0, hMax) = (bounds.getLong(0), bounds.getLong(1))
    val nHours = hMax - h0 + 1
    val typeIdx = EventTypes.zipWithIndex
      .foldLeft(raise_error(concat(lit("unknown event_type: "),
        coalesce(col("event_type"), lit("NULL")))).cast("int")) {
        case (acc, (t, i)) => when(col("event_type") === t, lit(i)).otherwise(acc) }
    val banded = ev.select((col("hAbs") - h0).as("i0"),
        typeIdx.cast("long").as("i1"),
        pmod(col("user_id"), lit(uShards)).cast("long").as("i2"),
        col("cents"))
      .withColumn("band", expr(s"i0 div ${bandHours}L"))
    val srcDir = s"${GraftPaths.tmpRoot}/tensor_ingest_src_$sfName"
    banded.repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(srcDir)

    val store = s"${GraftPaths.tmpRoot}/tensor_ingest_store_$sfName"
    Zarr.delete(store, recursive = true) // fresh build each run
    val stream = spark.readStream
      .schema("i0 LONG, i1 LONG, i2 LONG, cents LONG, band LONG")
      // r21: several whole bands per micro-batch (was 1); the batch body
      // below appends each band's chunks from exactly its own rows, so the
      // chunk objects and final shape are identical to the per-band runs —
      // only the micro-batch machinery count drops (~2 instead of 15).
      .option("maxFilesPerTrigger", 8)
      .parquet(srcDir)
    withStatePartitions(spark, 8) {
      val q = stream.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val agg = batch.groupBy(col("i0"), col("i1"), col("i2"))
            .agg(sum(col("cents")).cast("double").as("v"))
            .withColumn("_band", expr(s"i0 div ${bandHours}L"))
            .localCheckpoint() // consumed once per contiguous band run below
          val bands = agg.select(col("_band")).distinct()
            .collect().map(_.getLong(0)).sorted // ≤ filesPerTrigger longs
          // contiguous band runs → one chunk-aligned appendBand (one write
          // job) per run; a run's rows are exactly its bands' rows, so the
          // published chunks match the per-band appends byte for byte
          val runs = bands.foldLeft(List.empty[(Long, Long)]) {
            case ((s0, e0) :: tail, b) if b == e0 + 1 => (s0, b) :: tail
            case (acc, b)                             => (b, b) :: acc
          }.reverse
          runs.foreach { case (b0, b1) =>
            graft.zarr.ZarrNd.appendBand(
              agg.filter(col("_band").between(b0, b1)).drop("_band"), store,
              bandStart = b0 * bandHours,
              bandEnd = math.min((b1 + 1) * bandHours, nHours),
              shapeTail = Seq(EventTypes.size.toLong, uShards.toLong),
              chunks = Seq(bandHours, EventTypes.size, uShards))
          }
          ()
      }.start()
      try q.processAllAvailable() finally q.stop()
    }
    val m = graft.zarr.ZarrNd.readMetaN(store)
    require(m.shape(0) == nHours,
      s"ingested tensor spans ${m.shape(0)} hours, expected $nHours")
    graft.zarr.ZarrNd.read(spark, store)
  }
}
