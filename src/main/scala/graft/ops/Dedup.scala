package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large text corpora — exact, MinHash-LSH, SimHash,
  * n-gram Jaccard verification. Everything is bucketed: candidate pairs are
  * generated ONLY inside LSH buckets (never an all-pairs cross join), and a
  * per-bucket cap bounds the worst-case quadratic blowup on skewed buckets,
  * so the shapes survive a 100 TB corpus.
  * Hashing: `xxhash64` (codegen'd, deterministic) on Spark-only paths
  * (minhash family); md5-prefix [[Dedup.mdHash60]] where the DuckDB oracle
  * must reproduce values bit-identically (simhash).
  */
object Dedup {

  def tokensOf(c: Column): Column = split(trim(c), "\\s+")

  /** Probe-side sizing for the exploded verify (r21): the candidate-bounded
    * hash table is broadcast-class at the gate scales (ONE in-memory copy
    * serves every probe task — the ×|set| fan-out is never shuffled or
    * sorted) but can grow toward corpus size on candidate-heavy corpora,
    * where it must instead build per partition: the shuffled-hash hint
    * builds vt's slice and STREAMS the fan-out. Never sort-merge — sorting
    * the fan-out intermediate is exactly the giant-spill failure the
    * exploded shape exists to remove (the sf1 clique replica's ~3.5G-row
    * probe OOM'd in SMJ spill machinery at 8 g before this). The bound is
    * deployment-parameterised in ROWS (~16 B/row; the default ≈ 128 MB of
    * key data, a few hundred MB as a HashedRelation). The count is exact
    * and free: [[pinCounted]] reads it off the job that checkpoints vt.
    * Either way every probe is keyed on ONE integral column
    * ([[verifyCounts]]), so the relation it builds is a LongHashedRelation
    * sized to its rows, never a page-sized UnsafeHashedRelation. */
  private val VerifyBroadcastRows: Long =
    sys.env.get("GRAFT_VERIFY_BCAST_ROWS").flatMap(_.toLongOption)
      .getOrElse(8L << 20)
  private def probeSide(df: DataFrame, bcast: Boolean): DataFrame =
    if (bcast) broadcast(df) else df.hint("shuffle_hash")

  /** `left` joined (`how`) to `right` on leftCols(i) = rightCols(i) for
    * every i, with the planner's join key ONE long: xxhash64 of the
    * columns. A build side keyed on two or more columns becomes an
    * UnsafeHashedRelation, which takes a whole 16 MiB Tungsten page
    * however few rows it holds (per broadcast, per executor); a single
    * long key builds a LongHashedRelation sized to its rows. The hash only
    * routes: the exact equality is the join's residual condition, written
    * as an xor-zero test so the planner cannot lift it back into the key,
    * so two tuples whose hashes collide never match. Integral columns;
    * column names distinct across the two sides. */
  private def longKeyJoin(left: DataFrame, leftCols: Seq[String],
                          right: DataFrame, rightCols: Seq[String], how: String,
                          build: DataFrame => DataFrame = identity): DataFrame = {
    def key(cs: Seq[String]) = xxhash64(cs.map(c => col(c).cast("long")): _*)
    val same = leftCols.zip(rightCols)
      .map { case (l, r) => col(l).cast("long").bitwiseXOR(col(r).cast("long")) }
      .reduce(_ bitwiseOR _) === 0L
    left.withColumn("_lk", key(leftCols))
      .join(build(right.withColumn("_rk", key(rightCols))),
        col("_lk") === col("_rk") && same, how)
      .drop("_lk", "_rk")
  }

  /** The exploded verify's intersection count, shared by the three exact
    * verifies: (a, b, inter = |A ∩ B|) for every pair of `pairs` (columns
    * `a`, `b`) whose docs share a token of the verify table `vt` (doc_id,
    * h; distinct rows, `rows` of them). Both probes key their build side
    * on one integral column: the fan-out on `a`, the match on the long
    * hash of (doc_id, h) with the exact (doc_id, h) equality as residual
    * ([[longKeyJoin]]), so `inter` counts exact matches only. Both build
    * sides broadcast, or build per partition, by [[VerifyBroadcastRows]]. */
  private def verifyCounts(pairs: DataFrame, a: String, b: String,
                           vt: DataFrame, rows: Long): DataFrame = {
    val bcast = rows <= VerifyBroadcastRows
    val fanned = pairs.join(probeSide(vt.select(col("doc_id").as(a), col("h")), bcast), Seq(a))
    longKeyJoin(fanned, Seq(b, "h"), vt.select(col("doc_id").as("_b"), col("h").as("_h")),
        Seq("_b", "_h"), "inner", probeSide(_, bcast))
      .groupBy(col(a), col(b)).agg(count(lit(1)).as("inter"))
  }

  private type Rdd = org.apache.spark.rdd.RDD[_]

  /** The localCheckpoints [[pin]] made inside the innermost [[releasing]]
    * call on this thread (None outside any). Not inherited: a thread
    * started inside a scope must not feed that scope's buffer forever. */
  private val pinned: ThreadLocal[Option[scala.collection.mutable.Buffer[Rdd]]] =
    ThreadLocal.withInitial(() => None)

  /** The RDDs a frame's plan scans (its LogicalRDD leaves). */
  private def planRdds(df: DataFrame): Seq[Rdd] =
    df.queryExecution.logical
      .collectWithSubqueries { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd }

  /** Eager localCheckpoint of `df`, recorded in the enclosing [[releasing]]
    * scope so the scope can free its blocks once nothing reads them. */
  private def pin(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    pinned.get.foreach(_ ++= planRdds(c))
    c
  }

  /** [[pin]], plus the frame's row count, observed on the checkpoint's own
    * job: no count job of its own. */
  private def pinCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val c = pin(df.observe(obs, count(lit(1)).as("n")))
    (c, obs.get("n").asInstanceOf[Long])
  }

  /** Frees a checkpoint's blocks now; the ContextCleaner would free them
    * only once a driver GC collects the RDD. */
  private def release(r: Rdd): Unit =
    if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) r.unpersist(blocking = false)

  /** Runs `body`, then releases every checkpoint [[pin]] made inside it
    * that the returned frame's plan does not read (directly or through an
    * RDD derived from it); the ones it reads pass to the enclosing scope,
    * which decides on them in turn. A lazily returned frame therefore
    * keeps every checkpoint it reads. */
  private def releasing(body: => DataFrame): DataFrame = {
    val made = scala.collection.mutable.Buffer.empty[Rdd]
    val outer = pinned.get
    pinned.set(Some(made))
    val out = try body finally pinned.set(outer)
    def lineage(r: Rdd): Seq[Rdd] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val read = planRdds(out).flatMap(lineage).toSet
    val (kept, dead) = made.partition(read)
    dead.foreach(release)
    outer.foreach(_ ++= kept)
    out
  }

  /** k shifted `slice`s of the token array, zipped positionally — THE
    * shingle construction, shared by hashing, string form, and MinHash so
    * signature shingles and verify shingles can never diverge. */
  private def shingleZip(toks: Column, k: Int): Column = {
    val len = greatest(size(toks) - (k - 1), lit(0))
    arrays_zip((1 to k).map(i => slice(toks, lit(i), len)): _*)
  }

  /** First 60 bits of md5 as a signed long — the oracle-parity hash: DuckDB
    * computes the identical value as `('0x' || substring(md5(t),1,15))::BIGINT`.
    * Used where the driver's DuckDB oracle must reproduce the hash (simhash);
    * xxhash64 stays on the Spark-only paths (minhash family) where it's
    * cheaper. All builtin codegen'd expressions. */
  def mdHash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Exploded word k-shingle HASHES: (doc_id, h) one row per shingle
    * position. Shingles are assembled with NATIVE array ops only —
    * k shifted `slice`s zipped positionally — and hashed AFTER the explode
    * with a codegen'd k-argument xxhash64. No higher-order-function lambda
    * anywhere on this path (those run interpreted and dominated the
    * profile). Shingle identity is all MinHash/Jaccard need. */
  def shingleHashExplode(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val zipped = shingleZip(tokensOf(col(textCol)), k)
    docs.select(col(idCol).as("doc_id"), explode(zipped).as("sh"))
      .select(col("doc_id"), xxhash64((0 until k).map(i => col(s"sh.$i")): _*).as("h"))
  }

  /** Distinct word k-shingles as chr(1)-joined STRINGS (not hashes) —
    * used where a DuckDB oracle must reproduce the shingle set exactly.
    * Same native shifted-slice construction as [[shingleHashExplode]];
    * docs with fewer than k tokens contribute no rows. */
  def shingleStrings(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val zipped = shingleZip(tokensOf(col(textCol)), k)
    docs.select(col(idCol).as("doc_id"), explode(zipped).as("sh"))
      .select(col("doc_id"),
        // chr(1) separator keeps token boundaries unambiguous; tokens are
        // whitespace-split so the separator cannot appear at a boundary
        concat_ws("\u0001", (0 until k).map(i => col(s"sh.$i")): _*).as("s"))
      .distinct()
  }

  /** Benchmark decontamination: per-document overlap of its distinct word
    * k-shingles with a benchmark corpus's shingle set (the standard check
    * that training data does not contain eval data). The benchmark shingle
    * set is eval-suite-sized — tiny next to the corpus — so the membership
    * join broadcasts; the corpus side is one shingle explode + distinct +
    * one aggregate. Returns (doc_id, n_shingles, n_contaminated, ratio)
    * for every doc with at least k tokens. */
  def contamination(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 3): DataFrame = {
    val ds = shingleStrings(docs, idCol, textCol, k)
    val bs = broadcast(shingleStrings(bench, idCol, textCol, k)
      .select(col("s")).distinct().withColumn("_hit", lit(1)))
    ds.join(bs, Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_contaminated"))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 4).as("ratio"))
  }

  /** [[contamination]] with a BLOOM-FILTER prefilter — row-equivalent (the
    * bloom pass is followed by an exact membership join, so false positives
    * are eliminated), but at scale the expensive join only ever sees the
    * bloom-candidate shingles. The filter is built by Spark's own
    * `BloomFilterAggregate` (one distributed pass over the benchmark
    * shingles, map-side combined), collected as ONE binary value — a
    * model-parameter-sized object like the IVF centroid matrix, ~1.2 MB at
    * the default sizing — and re-entered as a literal, so the codegen'd
    * `might_contain` probe runs scan-side with no join and no shuffle for
    * the ~(1−hit−fpp) fraction of shingles that miss. The verify join is
    * deliberately NOT broadcast-hinted (unlike [[contamination]], whose
    * broadcast IS its pruning mechanism): when the benchmark set outgrows
    * broadcast range (a union of eval suites), AQE falls back to a shuffle
    * join whose corpus side the bloom has already cut to the
    * candidate fraction — that residual join is the point of the variant. */
  def contaminationBloom(docs: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, k: Int = 3,
                         expectedItems: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // materialized once: the bloom build is an ACTION over this pipeline
    // and the verify join uses it again — uncheckpointed, the whole
    // explode+distinct would run twice
    val bs = shingleStrings(bench, idCol, textCol, k).select(col("s")).distinct()
      .localCheckpoint()
    val bloomAgg = GraftSqlBridge.column(new BloomFilterAggregate(
      GraftSqlBridge.expression(xxhash64(col("s"))),
      Literal(expectedItems), Literal(expectedItems * 8L)).toAggregateExpression())
    val bf = bs.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    val ds = shingleStrings(docs, idCol, textCol, k)
    if (bf == null) {
      // empty benchmark: BloomFilterAggregate yields null — nothing can be
      // contaminated, and might_contain(null, …) would null out the probe
      ds.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), lit(0L).as("n_contaminated"))
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          lit(0.0).as("ratio"))
    } else {
      val cand = GraftSqlBridge.column(new BloomFilterMightContain(
        Literal(bf), GraftSqlBridge.expression(xxhash64(col("s")))))
      val benchHit = bs.select(col("s").as("_bs"), lit(1).as("_hit"))
      // `_cand && s = _bs`: Catalyst extracts the equi key and applies the
      // bloom verdict as a left-side pre-join filter — non-candidate rows
      // keep their null `_hit` without ever probing the join
      ds.withColumn("_cand", cand)
        .join(benchHit, col("_cand") && col("s") === col("_bs"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_contaminated"))
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          round(col("n_contaminated").cast("double") / col("n_shingles"), 4).as("ratio"))
    }
  }

  /** Distinct word-k-gram shingle set per doc (the minhash family's
    * granularity: unigram sets are degenerate on small vocabularies —
    * k-gram sets are position-structured and discriminate); docs shorter
    * than k words have no shingles, generate no pairs, and are correctly
    * absent. Shared by the exact Jaccard and containment joins. */
  private[graft] def shingleToks(docs: DataFrame, idCol: String, textCol: String,
                                 shingle: Int): DataFrame = {
    val ws = split(trim(col(textCol)), "\\s+")
    docs.select(col(idCol).as("doc_id"), ws.as("_ws"))
      .filter(size(col("_ws")) >= shingle)
      .select(col("doc_id"), explode(
        sequence(lit(1), size(col("_ws")) - (shingle - 1))).as("_p"), col("_ws"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("_ws"), col("_p"), lit(shingle))).as("token"))
      .distinct()
  }

  /** The corpus 3-gram shingle INVERTED INDEX — the structure a
    * production dedup pipeline maintains ONCE and every member of the
    * family (exact Jaccard, containment, the LSH cascade, the streaming
    * admission gate) probes. Building it is a corpus scan + explode +
    * distinct; before the cache each consumer query paid that build
    * again (the r16 verdict's top s/query item). Lives in the DURABLE
    * tier of [[graft.SessionCache]] (r18 verdict ask #1): built once,
    * materialized signature-keyed as parquet next to the corpus, loaded
    * by every later consumer across sessions and restarts — at 100 TB
    * this IS the on-disk inverted index the pipeline maintains.
    *
    * No blanket join hint here: the parquet artifact carries ACCURATE
    * size stats, so Catalyst's broadcast decisions over the index are
    * driven by its real size at the running scale (broadcasting a
    * ~20 MB sf0.1 index is right; a TB-scale production index never
    * fits the threshold and plans as shuffle on its own). A blanket
    * merge hint here measured a 4.1 → 10.2 s regression on the
    * jaccard join at sf0.1. The one place small-SF stats DID mislead
    * — the cascade's verify-set table, whose post-aggregate estimate
    * undershot its array payload — carries its own targeted hint. */
  def corpusShingles(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                     shingle: Int = 3): DataFrame =
    graft.SessionCache.durableFrame(spark, s"shingleIdx:$sfDir:$shingle",
        s"$sfDir/documents.parquet")(
      shingleToks(graft.Tables.documents(spark, sfDir), "doc_id", "text", shingle))

  /** The rarest-first ranking both exact joins filter their prefixes
    * from, over (doc_id, h) rows: `_f` = h's corpus frequency, `_rk` = h's
    * 1-based rank inside its doc under the global (`_f`, h) order, `sz` =
    * the doc's set size. Two windows, no aggregate and no join: a
    * `groupBy(h)` frequency table is vocabulary-sized and AQE collects and
    * broadcasts it back (~16 MB for a 2,000-doc shard), and a size
    * aggregate costs a second join. Each window's input is repartitioned to an explicit count (the
    * `candSpread` idiom below): AQE would coalesce the few-MB shuffle into
    * one or two tasks and run the CPU-bound sort on one core, and at scale
    * the count never drops below the session's shuffle setting. */
  private def rarestFirst(ht: DataFrame): DataFrame = {
    val n = graft.Shuffle.width(ht.sparkSession)
    val byDoc = Window.partitionBy(col("doc_id"))
    ht.repartition(n, col("h"))
      .withColumn("_f", count(lit(1)).over(Window.partitionBy(col("h"))))
      .repartition(n, col("doc_id"))
      .withColumn("_rk", row_number().over(byDoc.orderBy(col("_f"), col("h"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
  }

  /** (doc_id, h, sz) of each doc's prefix at threshold `pct`: its first
    * |s| − ⌈t·|s|⌉ + 1 tokens of [[rarestFirst]], ⌈t·|s|⌉ as exact ints. */
  private def prefixOf(ranked: DataFrame, pct: Int): DataFrame =
    ranked.filter(col("_rk") <= col("sz") - expr(s"(sz * $pct + 99) div 100") + 1)
      .select(col("doc_id"), col("h"), col("sz"))

  def jaccardJoin(docs: DataFrame, idCol: String, textCol: String,
                  minJaccardPct: Int = 50, shingle: Int = 3): DataFrame =
    jaccardJoinToks(shingleToks(docs, idCol, textCol, shingle), minJaccardPct)

  /** The DEFAULT consumer shape for the exact-Jaccard join (r18 verdict
    * ask #3): qualifying pairs routed straight into
    * [[connectedComponents]] → one (doc_id, component) row per CLUSTERED
    * document. A dedup pipeline wants the keeper decision, and the pair
    * relation is OUTPUT-bound — a mass-duplicated boilerplate family of n
    * docs emits n(n−1)/2 pairs (the documented 47× slope at sf1) but only
    * n cluster rows. Pair emission ([[jaccardJoinToks]]) stays available,
    * opt-in, for consumers that need the per-pair scores (audits,
    * threshold tuning).
    *
    * Nothing the call checkpoints outlives it unless the result reads it
    * ([[releasing]]): the join's pair set and verify table go as soon as
    * the components are labelled, so at 1000 executors no block manager
    * keeps pinned verify data the caller can no longer reach. */
  def jaccardDedup(toks: DataFrame, minJaccardPct: Int = 50): DataFrame = releasing {
    connectedComponents(
      jaccardJoinToks(toks, minJaccardPct).select(col("id1"), col("id2")))
  }

  /** L32: EXACT set-similarity join by prefix filtering (Chaudhuri 2006 /
    * PPJoin family) — every pair of documents whose distinct-token
    * Jaccard is ≥ `minJaccardPct`/100, with NO approximation and NO
    * all-pairs work: the exact counterpart of the MinHash-LSH candidate
    * stage (L2 trades recall for speed; this trades nothing and is the
    * right tool when the threshold is high).
    *
    * The pruning theorem: order all tokens globally by (frequency, token)
    * ascending — rarest first. If J(a,b) ≥ t then |a∩b| ≥ ⌈t·|a|⌉, and
    * any two sets with overlap ≥ c must share a token inside their first
    * (|s| − c + 1) tokens under ANY shared total order. So each document
    * exposes only its first |s| − ⌈t·|s|⌉ + 1 tokens (the PREFIX) to the
    * candidate join; rare-first ordering makes those prefix tokens the
    * corpus's least frequent, so candidate buckets stay small exactly
    * where a frequency-oblivious order would explode them. Candidates
    * then get ONE exact intersection count; the Jaccard test is an
    * integer cross-multiply (inter·100 ≥ pct·union) — no float anywhere
    * (PARITY class 1).
    *
    * Cost model (honest): beyond the linear scan/rank work, runtime is
    * OUTPUT-proportional — an exact similarity join must emit every
    * qualifying pair, and a near-dup clique of k documents contains
    * k·(k−1)/2 of them. Measured on the replica corpus (100-variant
    * cliques): output grew 979× for 10× data and runtime grew 47× —
    * sub-linear per pair, quadratic per clique by SEMANTICS, not by
    * plan. Downstream consumers that only need keepers should feed
    * these pairs to [[connectedComponents]] (cluster-sized output) or
    * use [[dedupCascade]]/[[minhashPairs]] at the ingest edge.
    *
    * Scale shapes: the candidate stage is two windows and no aggregate
    * ([[rarestFirst]]): token frequencies are an h-keyed window, per-doc
    * rank and set size a doc-keyed one, each over an input repartitioned
    * to an explicit count, so no frequency or size table is collected or
    * broadcast at any vocabulary size. The filtered prefix is materialised once and
    * self-joined on prefix tokens only; verification is candidate-bounded.
    *
    * This entry point runs over a pre-built (doc_id, token) shingle index
    * ([[corpusShingles]]). It emits every qualifying PAIR, so it is
    * output-bound under mass duplication; [[jaccardDedup]] is the
    * cluster-sized default for keeper-selection consumers.
    * Returns (id1, id2, inter, uni) with id1 < id2, lazily: the returned
    * frame reads the checkpointed pair set and verify table, so they stay
    * pinned while it lives; the prefix, read by neither, is released
    * before the call returns ([[releasing]]). */
  def jaccardJoinToks(toks: DataFrame, minJaccardPct: Int): DataFrame = releasing {
    require(minJaccardPct > 0 && minJaccardPct <= 100)
    // r20: the whole join runs over xxhash64 SHINGLE HASHES, not strings —
    // every exchange (frequency window, rank window, candidate join, verify
    // sets) carries 8-byte longs instead of ~17-byte 3-gram strings, and
    // the per-pair intersection compares longs. Output-equivalent: the
    // prefix theorem holds for ANY consistent global token order (rarest-
    // first stays the order, only hash ties break differently — candidates
    // change on ties, the exact verify doesn't), and |set| / |∩| / |∪| are
    // hash-set cardinalities — identical to the oracle's string-set counts
    // unless two distinct shingles of one candidate pair collide in 64
    // bits (~2⁻⁵² per corpus here; the minhash family's documented
    // envelope, deterministic at the gate SFs).
    val ht = toks.select(col("doc_id"), xxhash64(col("token")).as("h"))
    // materialised once: both sides of the self-join read it, and
    // unmaterialised each side would re-run both windows' sorts
    val prefix = pin(prefixOf(rarestFirst(ht), minJaccardPct))
    // the tiny pair set, pinned: prefix-probe lineage, 2 consumers
    val cand = pin(prefix.select(col("doc_id").as("id1"), col("h"), col("sz").as("_s1"))
      .join(prefix.select(col("doc_id").as("id2"), col("h"), col("sz").as("_s2")),
        Seq("h"))
      .filter(col("id1") < col("id2"))
      // exact LENGTH filter (AllPairs/PPJoin): J(A,B) ≥ t forces the set
      // sizes within 1/t of each other (J ≤ min/max) — a necessary
      // condition, so the candidate SUPERSET shrinks and no qualifying
      // pair is lost; prunes before the distinct AND the ×|set| verify
      // fan-out (§2.3: fewer rows into every downstream exchange)
      .filter(col("_s1") * 100 >= lit(minJaccardPct) * col("_s2") &&
        col("_s2") * 100 >= lit(minJaccardPct) * col("_s1"))
      .select(col("id1"), col("id2")).distinct())
    // r21 (r19 ask #3 / r20 verdict #3): SPILL-SAFE exploded-token verify.
    // The former array-set shape (collect_set per doc + per-pair
    // array_intersect) held O(|set|) per pair row through two attach
    // sort-merge joins — the one measured super-linear family (the sf1
    // clique replica's 47× slope; at 100 TB a mass-duplicated boilerplate
    // doc family makes the per-pair arrays the spill driver). Now the
    // intersection is an equi-join COUNT over the candidate-bounded hash
    // table: every row everywhere is a fixed-width (id, id, h) triple —
    // per-pair memory O(1), hash-aggregated with map-side partial
    // aggregation, spilling like any narrow aggregate (guide §2.3/§5).
    // Counts are hash-SET cardinalities exactly as the array form's: the
    // index is distinct per (doc, token), so (doc_id, h) rows are distinct
    // unless two of one doc's shingles collide in 64 bits — the documented
    // ~2⁻⁵² envelope this family already carries.
    val candIds = cand
      .select(explode(array(col("id1"), col("id2"))).as("doc_id")).distinct()
    // built ONCE (checkpoint), consumed three times: the size aggregate and
    // both pair probes ([[verifyCounts]]).
    val (vt, vtRows) = pinCounted(toks.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), xxhash64(col("token")).as("h")))
    val vsz = vt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // spread the probe: the checkpointed pair set is tiny-but-dense (AQE
    // coalesces it to ~1 partition locally) while the probe pipeline fans
    // each pair out ×|set| — repartition the PAIRS (narrow rows, guide
    // §2.5 "repartition after the read") so the fan-out runs slot-wide
    val candSpread = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    verifyCounts(candSpread, "id1", "id2", vt, vtRows)
      .join(vsz.select(col("doc_id").as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(vsz.select(col("doc_id").as("id2"), col("sz").as("sz2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"),
        (col("sz1") + col("sz2") - col("inter")).as("uni"))
      .filter(col("inter") * 100 >= lit(minJaccardPct) * col("uni"))
  }

  /** L63: exact CONTAINMENT join — the ASYMMETRIC near-dup relation
    * c(A→B) = |A∩B| / |A| ≥ t over shingle sets: "document A is (mostly)
    * inside document B" — quote inclusion, boilerplate wrapping, partial
    * copies, all the cases symmetric Jaccard dilutes away when B is much
    * larger than A (J = |A|/|B| → 0 while containment = 1). The
    * RefinedWeb/MassiveText concern exact doc-level dedup misses.
    *
    * EXACT by the one-sided prefix filter: if |A∩B| ≥ ⌈t·|A|⌉ then at
    * least one of A's (|A| − ⌈t·|A|⌉ + 1) globally-RAREST shingles is in
    * B (pigeonhole) — so candidates are A-prefix tokens probed against
    * the FULL inverted index (the asymmetric part: B cannot be prefix-
    * filtered). Candidate mass = Σ_token |prefixA(token)| · docfreq —
    * bounded because prefixes are deliberately the rarest shingles; the
    * verify stage is one (pair, token) count against the distinct
    * shingle sets. At 100 TB the full index is the inverted index the
    * pipeline already maintains. Returns ordered pairs (id_a contained
    * in id_b) with exact intersection and |A|, lazily: the returned frame
    * reads the checkpointed pair set and verify table, so they stay pinned
    * while it lives. */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      minContainPct: Int = 90, shingle: Int = 3): DataFrame =
    containmentJoinToks(shingleToks(docs, idCol, textCol, shingle), minContainPct)

  /** [[containmentJoin]] over a pre-built (doc_id, token) shingle index —
    * the [[corpusShingles]] entry point. */
  def containmentJoinToks(toks: DataFrame, minContainPct: Int): DataFrame = {
    require(minContainPct > 0 && minContainPct <= 100)
    // r20: hash-domain rewrite, same rationale as [[jaccardJoinToks]] —
    // candidate generation and verify run over xxhash64(token) longs, so
    // the probe against the FULL inverted index (the asymmetric side that
    // cannot be prefix-filtered) shuffles 8-byte keys, not 3-gram strings.
    val ht = toks.select(col("doc_id"), xxhash64(col("token")).as("h"))
    // one ranked frame: A's prefix and B's full (doc_id, h, sz) rows; B's
    // side reads only sz, so Catalyst prunes the rank and frequency windows
    // from it and leaves one doc-keyed size window
    val ranked = rarestFirst(ht)
    // the tiny pair set over the full prefix-probe lineage, pinned: two
    // consumers below (id extraction + the verify join)
    val cand = pin(prefixOf(ranked, minContainPct)
      .select(col("doc_id").as("id_a"), col("h"), col("sz").as("_sa"))
      .join(ranked.select(col("doc_id").as("id_b"), col("h"), col("sz").as("_sb")),
        Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      // exact LENGTH filter: |A∩B| ≥ ⌈t·|A|⌉ needs |B| ≥ ⌈t·|A|⌉ — a
      // necessary condition, so the candidate superset shrinks and no
      // qualifying ordered pair is lost (see jaccardJoinToks)
      .filter(col("_sb") * 100 >= lit(minContainPct) * col("_sa"))
      .select(col("id_a"), col("id_b")).distinct())
    // r21 (r19 ask #3 / r20 verdict #3): SPILL-SAFE exploded-token verify —
    // the jaccardJoinToks rationale verbatim: per-pair intersection as an
    // equi-join COUNT over the candidate-bounded (doc_id, h) table instead
    // of per-pair long arrays through two attach sort-merge joins. Fixed-
    // width rows end to end; sz_a = the doc's distinct-shingle count (the
    // index is distinct per doc), identical to the old size(sha) modulo the
    // family's documented ~2⁻⁵² in-doc hash-collision envelope.
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    // built ONCE (checkpoint), consumed three times (sizes + both probes)
    val (vt, vtRows) = pinCounted(ht.join(candIds, Seq("doc_id"), "left_semi"))
    val vsz = vt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // spread the probe (the jaccardJoinToks rationale): pairs fan out ×|A|
    val candSpread = cand.repartition(cand.sparkSession.sparkContext.defaultParallelism)
    verifyCounts(candSpread, "id_a", "id_b", vt, vtRows)
      .join(vsz.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .filter(col("inter") * 100 >= lit(minContainPct) * col("sz_a"))
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"))
  }

  /** L69: the containment CASCADE — [[containmentJoinToks]]' exact verify
    * run ONLY on minhash-LSH candidate pairs, the production slot the
    * r16 verdict asked to gate: at 100 TB nobody probes the full inverted
    * index per document; the banded-LSH blocking stage (the L2 structure
    * the pipeline already runs) bounds the verify to candidate pairs, and
    * the exact containment check is the per-pair decision.
    *
    * The minhash here is md5-based (seeded 60-bit md5 prefixes, the
    * [[graft.functions.FingerprintUtil.md5Hash60]] bridge) so the WHOLE
    * cascade — signatures, bands, candidates, verify — is expressible in
    * the DuckDB oracle and hash-gated end to end, unlike the xxhash64 L2
    * pipeline (third-engine-checked instead). Semantics: output ⊆ the
    * full [[containmentJoin]] at the same threshold — the cascade trades
    * the low-symmetric-Jaccard containments (small doc inside huge doc,
    * which symmetric-minhash banding cannot see) for candidate-bounded
    * cost; pairs it does emit carry the IDENTICAL exact (inter, sz_a).
    *
    * Shapes: signatures are ONE grouped pass over the index with
    * numHashes min-aggregate COLUMNS (the per-row md5s are projection
    * work; the shuffle carries one row per doc × 16 longs — the first
    * cut exploded ×numHashes before aggregating and its 800M-row
    * shuffle OOM'd the sf10 replica); bands `stack` out of that one row
    * (docs×bands rows, band-local); candidates come from ONE bucket
    * aggregation with the [[candidatePairs]] deterministic `maxBucket`
    * cap (sorted prefix — the skew guard that bounds a degenerate
    * bucket, e.g. a mass-duplicated boilerplate page, to cap² pairs),
    * localCheckpointed because the tiny pair set feeds the verify
    * twice; the verify builds one candidate-bounded `collect_set` of
    * shingle hashes per doc and sizes each pair's `array_intersect`, never a
    * (pair, token) row explosion (the join-count form multiplied 25M
    * sf10 pairs by ~100 tokens each and OOM'd). Nothing is ever
    * corpus². */
  def containmentCascade(toks: DataFrame, minContainPct: Int = 60,
                         numHashes: Int = 16, bandsN: Int = 8,
                         maxBucket: Int = 1000): DataFrame = {
    require(minContainPct > 0 && minContainPct <= 100)
    require(numHashes % bandsN == 0 && numHashes / bandsN == 2,
      "this banding stacks exactly 2 rows per band")
    // seeded signature: ONE md5 per shingle (the bridge hash the verify
    // sets reuse), then the classic linear universal family
    // h_s = (a_s·h + b_s) mod p over p = 2³¹−1 — a bijection per seed,
    // 16 long ops instead of 16 md5-string allocations per index row
    // (the per-seed-md5 form GC-thrashed the sf10 replica at 8 g).
    // Every operand is non-negative and a_s·h ≤ 2⁶² — exact in BIGINT,
    // so DuckDB computes the identical values from the same closed form.
    val p31 = 2147483647L
    val h31 = mdHash60(col("token")) % p31
    val mhCols = (0 until numHashes).map { s =>
      val a = 1000003L * (s + 1) % p31
      val b = 777767777L * s % p31
      min((h31 * a + b) % p31).as(s"mh$s")
    }
    val sig = toks.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
    val stackArgs = (0 until bandsN)
      .map(b => s"${b}L, mh${2 * b}, mh${2 * b + 1}").mkString(", ")
    val bandSig = sig.select(col("doc_id"),
      expr(s"stack($bandsN, $stackArgs)").as(Seq("band", "mh0", "mh1")))
    // bucket = (band, mh0, mh1): one aggregation, sorted-prefix cap —
    // deterministic (min doc_ids kept), quadratic only within min(k, cap)
    val cand = bandSig.groupBy(col("band"), col("mh0"), col("mh1"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .distinct()
      .localCheckpoint() // tiny pair set, corpus-scan lineage, two consumers
    // verify: per-candidate-doc shingle-hash SETS (collect_set) built
    // once (candidate-bounded), array_intersect sized per pair row
    val candIds = cand
      .select(explode(array(col("id1"), col("id2"))).as("doc_id")).distinct()
    // merge hint: the set table is candidate-bounded but can approach
    // corpus size (the sf10 replica: 500k docs × ~100-element arrays —
    // Catalyst's post-aggregate estimate undershot and the broadcast
    // build OOM'd); an id-keyed shuffle join is the 100 TB shape.
    // Sets hold md5-60 HASHES, not shingle strings: ~12× smaller rows
    // through the pair join (string arrays OOM'd the sf10 verify), and
    // the bridge hash is bit-identical in DuckDB, so intersection/size
    // counts mirror exactly — a 2⁻⁶⁰-scale collision would merge two
    // shingles in BOTH engines identically
    val sets = toks.join(candIds, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(collect_set(mdHash60(col("token"))).as("sh"))
      // r20: consumed by BOTH attach joins — checkpoint so the candidate-
      // bounded build (scan + semi + collect_set) runs once, not per join
      .localCheckpoint()
      .hint("merge")
    val paired = cand
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), Seq("id1"))
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("inter"),
        size(col("sh1")).cast("long").as("sz1"),
        size(col("sh2")).cast("long").as("sz2"))
    // containment is ASYMMETRIC: each unordered candidate pair yields two
    // ordered checks sharing the one intersection count — exploded in the
    // SAME pass (a union of two projections would inline and run the
    // verify join twice)
    paired.select(explode(array(
        struct(col("id1").as("id_a"), col("id2").as("id_b"),
          col("inter"), col("sz1").as("sz_a")),
        struct(col("id2").as("id_a"), col("id1").as("id_b"),
          col("inter"), col("sz2").as("sz_a")))).as("o"))
      .filter(col("o.inter") * 100 >= lit(minContainPct) * col("o.sz_a"))
      .select(col("o.id_a").as("id_a"), col("o.id_b").as("id_b"),
        col("o.inter").as("inter"), col("o.sz_a").as("sz_a"))
  }

  /** Exact dedup: hash-groupBy on content. Map-side partial agg makes this
    * one shuffle of (hash, id) pairs, not documents. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** L27: CANONICALIZATION dedup — the normalize-then-exact-match stage
    * real curation pipelines run between exact and fuzzy dedup (case /
    * punctuation / whitespace variants of the same document collapse).
    * Canonical form: lowercase → strip non-[a-z0-9 whitespace] → collapse
    * runs of whitespace to one space → trim; empty canonicals are dropped
    * (punctuation-only docs match nothing, not each other). Grouping goes
    * through md5(canon) so the shuffle carries a 32-char digest instead
    * of whole normalized documents — at 100 TB that is the difference
    * between shipping hashes and shipping the corpus (md5 exists in both
    * engines, so the oracle groups identically; a digest collision is the
    * minhash family's documented 2⁻¹²⁸ envelope). Returns every surviving
    * doc with its group keeper (min doc_id) and membership size. */
  def canonicalDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the X13 kernel = trim(regexp_replace(regexp_replace(lower(t),
    // "[^a-z0-9\s]", ""), "\s+", " ")) in ONE scan (differential-spec
    // pinned; the DuckDB oracle keeps the regex form)
    val canon = graft.functions.AsciiCanon.canon(col(textCol))
    // materialize the digest frame ONCE: it feeds both the keeper
    // aggregate and the membership join, and without the cut each side
    // re-runs the regex canonicalization over the whole corpus (the
    // keeper side as a separate broadcast-build scan — measured 2×40 s
    // at the ×100 replica, vs seconds for everything downstream). The
    // checkpoint is digest-sized (id + md5), the same class of data the
    // shuffles carry — never the documents.
    val c = docs.select(col(idCol).as("doc_id"), md5(canon.cast("binary")).as("h"),
        (canon =!= "").as("_keep"))
      .filter(col("_keep")).drop("_keep")
      .localCheckpoint()
    val keep = c.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_members"))
    c.join(keep, Seq("h"))
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"), col("n_members"))
  }

  /** L64: dedup SAVINGS report — per-source documents/tokens BEFORE and
    * AFTER canonical dedup (the "what did dedup buy us" line every
    * curation run publishes next to its mix table, and the input to
    * epoch-count decisions: surviving tokens are what you can train on).
    * Keeper = [[canonicalDedup]]'s min-id rule; canonical-empty docs
    * (punctuation-only) count as removed. ONE canonicalization pass
    * feeds both sides; everything is exact BIGINT token mass. */
  def savingsReport(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        col(groupCol).as("source"),
        TextOps.nTokens(col(textCol)).cast("long").as("_nt"))
      .localCheckpoint()
    val kept = canonicalDedup(docs, idCol, textCol)
      .filter(!col("is_dup")).select(col("doc_id"), lit(1).as("_k"))
    base.join(kept, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_before"),
        sum(col("_nt")).as("tokens_before"),
        count(col("_k")).as("docs_after"),
        sum(when(col("_k").isNotNull, col("_nt")).otherwise(0L)).as("tokens_after"))
  }

  /** L65: QUALITY-keeper selection — the production refinement of the
    * min-id keeper rule: within each canonical-dedup cluster keep the
    * HIGHEST-quality member (ties → smaller doc_id), the rule real
    * pipelines use so boilerplate-stripped or better-formatted variants
    * survive over whichever copy happened to carry the smallest id.
    * Same one-pass digest frame as [[canonicalDedup]]; the keeper
    * argmax is a (quality·10⁴ as exact int desc, doc_id asc) min-struct
    * aggregate — no window, no sort. */
  def qualityKeeperDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = graft.functions.AsciiCanon.canon(col(textCol))
    // round BEFORE the long cast: the 4dp quality double times 10⁴ can
    // sit one ulp under its integer (0.3·10⁴ = 2999.999…), and a bare
    // cast truncates where the oracle's round() rounds
    val q = round(TextOps.qualityCol(col(textCol)) * 10000, 0).cast("long")
    val c = docs.select(col(idCol).as("doc_id"),
        md5(canon.cast("binary")).as("h"), q.as("_q"),
        (canon =!= "").as("_keep"))
      .filter(col("_keep")).drop("_keep")
      .localCheckpoint()
    val keep = c.groupBy(col("h"))
      .agg(min(struct((-col("_q")).as("nq"), col("doc_id"))).as("_top"),
        count(lit(1)).as("n_members"))
      .select(col("h"), col("_top.doc_id").as("keeper"),
        (-col("_top.nq")).as("keeper_quality_e4"), col("n_members"))
    c.join(keep, Seq("h"))
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"),
        col("keeper_quality_e4"), col("n_members"))
  }

  /** MinHash signatures → (doc_id, sig: array<bigint>) via the custom
    * one-pass MinHashAgg aggregate (graft.functions.MinHashAgg): shingle
    * structs are built with native array ops and consumed per-document —
    * no explode, so the aggregate's input is |docs| rows, not
    * |docs|·|shingles|, and the shuffle ships `numHashes` longs per doc. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingle: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.MinHashSig.minhash(col(textCol), numHashes, shingle).as("sig"))

  /** The aggregate form of [[minhashSignatures]] (shingle structs →
    * [[graft.functions.MinHashAgg]] under a doc-id groupBy). Signature
    * values are bit-identical (differential spec); the scalar kernel
    * additionally removes the hash-aggregate Exchange that the unique-key
    * groupBy forced — the signature now computes inside the scan stage.
    * Kept as the differential-test reference and for TRUE aggregation
    * shapes (many shingle rows per key), where an aggregate is the right
    * operator. */
  def minhashSignaturesAgg(docs: DataFrame, idCol: String, textCol: String,
                           numHashes: Int, shingle: Int): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
        shingleZip(tokensOf(col(textCol)), shingle).as("shingles"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAgg.minhash(col("shingles"), numHashes, shingle).as("sig"))
  }

  /** Band the signature: band b hashes rows [b*r, (b+1)*r). Output long form
    * (doc_id, band, bucket) ready for the bucket join. */
  def bands(sigs: DataFrame, bandsN: Int, rowsPerBand: Int): DataFrame = {
    val banded = (0 until bandsN).map { b =>
      val cols = (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(10000 + b) +: cols: _*).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(banded: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate pairs = same (band, bucket), id1 < id2, deduped across bands.
    * ONE aggregation collects each bucket's ids (capped at `maxBucket` —
    * the skew guard at scale), then two explodes emit the in-bucket cross
    * product — no self-join, so the signature pipeline upstream is scanned
    * exactly once. Bucket membership is LSH-bounded; the cap bounds the
    * quadratic worst case. */
  def candidatePairs(banded: DataFrame, maxBucket: Int = 1000): DataFrame = {
    banded.groupBy(col("band"), col("bucket"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, maxBucket).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs only (the verify stage).
    * Shingle sets are computed ONLY for docs that appear in a candidate
    * pair (left-semi first): the expensive array materialization is
    * candidate-bounded, not corpus-sized. The intersection is
    * [[verifyCounts]]' one-long-key probe, and the counts attach back to
    * `pairs` on one long key too ([[longKeyJoin]]). Lazy: the returned
    * frame reads the checkpointed verify table, which stays pinned while
    * it lives. */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, shingle: Int): DataFrame = {
    // one explode, not a two-branch union: the pairs subtree enters this
    // plan once here (a union would inline and recompute it twice)
    val candIds = pairs
      .select(explode(array(col("id1"), col("id2"))).as("cand_id")).distinct()
    val candDocs = docs.join(candIds, docs(idCol) === candIds("cand_id"), "left_semi")
    // r21 (r19 ask #3 / r20 verdict #3): SPILL-SAFE exploded verify — the
    // per-pair intersection is an equi-join COUNT over the candidate-
    // bounded DISTINCT (doc_id, h) table, never per-pair arrays (the
    // jaccardJoinToks rationale). The checkpoint also ends the r20-audited
    // duplicate-subtree problem HERE: the old form ran the whole
    // scan→semi→collect_set build once per attach join (2 corpus scans in
    // the dedup_minhash_pairs plan); the hash table now builds once.
    val (vt, vtRows) = pinCounted(shingleHashExplode(candDocs, idCol, textCol, shingle)
      .distinct()) // positional shingles → the doc's shingle SET
    val vsz = vt.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // probe with DISTINCT pairs (the public contract tolerates duplicate
    // input rows: each must come back with its own correct jaccard, so the
    // count below must not see the duplication)
    val pd = pairs.select(col("id1"), col("id2")).distinct()
      .repartition(pairs.sparkSession.sparkContext.defaultParallelism) // spread the ×|set| fan-out
    val inter = verifyCounts(pd, "id1", "id2", vt, vtRows)
      .select(col("id1").as("_i1"), col("id2").as("_i2"), col("inter").as("_i"))
    val sized = pairs
      .join(vsz.select(col("doc_id").as("id1"), col("sz").as("sz1")), Seq("id1"))
      .join(vsz.select(col("doc_id").as("id2"), col("sz").as("sz2")), Seq("id2"))
    longKeyJoin(sized, Seq("id1", "id2"), inter, Seq("_i1", "_i2"), "left_outer") // disjoint sets → inter 0
      .select(col("id1"), col("id2"),
        round(coalesce(col("_i"), lit(0L)).cast("double") /
          (col("sz1") + col("sz2") - coalesce(col("_i"), lit(0L))), 6).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline → (id1, id2, jaccard ≥ minJaccard).
    * The signature pipeline is scanned once for candidate generation (the
    * pair stage aggregates buckets instead of self-joining, so the DAG does
    * not fork above it); the verify stage re-derives shingles only for the
    * candidate-bounded doc subset. On a long-lived cluster, persist `sigs`
    * before calling if signatures are reused across many queries. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 32, bandsN: Int = 16, shingle: Int = 3,
                   minJaccard: Double = 0.05): DataFrame = {
    // Docs too short to have any shingle share the sentinel (MaxValue)
    // signature and would all band-collide with each other — drop them
    // before banding (they cannot be near-dups at this shingle size).
    val sigs = minhashSignatures(docs, idCol, textCol, numHashes, shingle)
      .filter(element_at(col("sig"), 1) =!= Long.MaxValue)
    // Candidate pairs are TINY (bucket-capped, quadratic-bounded per
    // bucket) while their lineage is the full corpus-scan LSH pipeline.
    // The verify stage uses them twice (id extraction + the final join);
    // without materializing, each use re-runs the whole pipeline — 9
    // corpus scans instead of 2 in the executed plan. localCheckpoint
    // pays one tiny write, as for the components loop.
    val cand = candidatePairs(bands(sigs, bandsN, numHashes / bandsN))
      .localCheckpoint()
    jaccardVerify(cand, docs, idCol, textCol, shingle)
      .filter(col("jaccard") >= minJaccard)
  }

  /** Connected components over a near-dup pair graph
    * (id1, id2) → (doc_id, component = min doc id reachable). Two regimes:
    * below `localEdgeThreshold` edges, union-find on the collected edge
    * list (the graph is broadcast-class data — one job, no iteration);
    * above it, distributed min-label propagation with pointer doubling,
    * where the driver loop controls ITERATIONS only — per-round work is
    * joins/aggregates on the distributed edge list, and `localCheckpoint`
    * truncates the growing lineage. Both produce identical labels. This is
    * the keeper-selection stage of a dedup pipeline: keep
    * doc_id == component, drop the rest.
    *
    * The edge count is observed on the job that checkpoints the edges (no
    * count job). No checkpoint outlives its last reader: each round's
    * labels go once the next round's are materialized, and the edge
    * checkpoints when the call returns ([[releasing]]); the returned
    * labels (a driver-side relation, or the last round's checkpoint) read
    * none of them. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localEdgeThreshold: Long = 5000000L): DataFrame = releasing {
    val spark = pairs.sparkSession
    val (edgePairs, edgeCount) = pinCounted(pairs.select(col("id1").cast("long").as("src"),
      col("id2").cast("long").as("dst")))
    if (edgeCount <= localEdgeThreshold) {
      // Near-dup candidate graphs are SPARSE — orders of magnitude smaller
      // than the corpus (LSH buckets are capped, so pair counts are
      // quadratic-bounded per bucket). Up to the threshold (~80 MB of longs,
      // the same class of driver traffic as a broadcast join) union-find on
      // the driver beats any iterative distributed plan: one job instead of
      // O(log d) join rounds. The distributed loop below remains the path
      // for genuinely large graphs.
      import scala.collection.mutable
      import spark.implicits._
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // typed collect: specialized (Long, Long) tuples, ~24 B/edge on the
      // driver heap — a boxed Row collect at the 5M-edge threshold would
      // cost several × that
      edgePairs.as[(Long, Long)].collect().foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // root = min id of the component: union always keeps the smaller root
      parent.keys.toSeq.sorted.map(id => (id, find(id))).toDF("doc_id", "component")
    } else {
      val edges = pin(edgePairs
        .union(edgePairs.select(col("dst").as("src"), col("src").as("dst"))))
      var labels = pin(edges.select(col("src").as("doc_id")).distinct()
        .withColumn("component", col("doc_id")))
      var it = 0
      var converged = false
      while (!converged && it < maxIter) {
        val viaEdge = edges.join(labels, edges("src") === labels("doc_id"))
          .select(col("dst").as("doc_id"), col("component"))
        // pointer doubling: component(x)=y ∧ component(y)=z ⇒ z reachable
        // from x (edges are symmetric), so min-ing in z is sound and lets
        // labels hop through already-merged prefixes
        val viaLabel = labels.as("a")
          .join(labels.as("b"), col("a.component") === col("b.doc_id"))
          .select(col("a.doc_id").as("doc_id"), col("b.component").as("component"))
        val nbrMin = viaEdge.union(viaLabel)
          .groupBy(col("doc_id")).agg(min(col("component")).as("nbr"))
        // carry the changed flag inside the checkpointed frame: one
        // materialization per round, convergence read off the cached result
        val updated = pin(labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("component"), coalesce(col("nbr"), col("component"))).as("component"),
            (coalesce(col("nbr"), col("component")) < col("component")).as("changed")))
        planRdds(labels).foreach(release) // the round before: nothing reads it now
        converged = updated.filter(col("changed")).limit(1).count() == 0
        labels = updated.select(col("doc_id"), col("component"))
        it += 1
      }
      labels
    }
  }

  /** End-to-end dedup: exact dup groups collapse to their min id, then
    * MinHash near-dup components collapse to theirs; returns the surviving
    * (kept) documents. The whole pipeline is hash-bucketed — no stage is
    * all-pairs. */
  def deduplicate(docs: DataFrame, idCol: String, textCol: String,
                  minJaccard: Double = 0.5): DataFrame = {
    val exactKeep = exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    val afterExact = docs.join(exactKeep, Seq(idCol), "left_semi")
    val comps = connectedComponents(
      minhashPairs(afterExact, idCol, textCol, minJaccard = minJaccard))
    val drop = comps.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    afterExact.join(drop, Seq(idCol), "left_anti")
  }

  /** 60-bit SimHash over word hashes: per-bit ±1 votes, one hash aggregate
    * (60 sums), fingerprint assembled from vote signs. 60 bits (not 64)
    * because the token hash is the md5-prefix [[mdHash60]], which the DuckDB
    * oracle reproduces bit-identically — simhash is fully oracle-checkable. */
  val SimhashBits = 60

  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokensOf(col(textCol))).as("t"))
      .withColumn("h", mdHash60(col("t")))
    val votes = (0 until SimhashBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until SimhashBits).map(b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** L30: the staged dedup CASCADE with per-document reason codes — the
    * keep/drop decision table a curation pipeline actually ships:
    * stage 1 exact (md5 of the raw text), stage 2 canonicalization
    * (case/punct/whitespace collapse, empty canonicals exempt), stage 3
    * simhash-identical (Hamming 0 — the SQL-expressible slice of the
    * near-dup family; banded Hamming ≤ 3 stays in [[simhashPairs]]).
    * Each stage sees only the previous stage's SURVIVORS (a doc dropped
    * as `exact` never contests a canonical group), keeper = min doc_id.
    * Returns (doc_id, kept, reason ∈ kept|exact|canonical|near). Three
    * digest-keyed aggregates — shuffles carry hashes, not documents. */
  def dedupCascade(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    val canon = graft.functions.AsciiCanon.canon(col("_text")) // X13 kernel
    val e = base.withColumn("_h1", md5(col("_text").cast("binary")))
      .withColumn("_h2", when(canon =!= "", md5(canon.cast("binary"))))
      .drop("_text")
    val k1 = e.groupBy(col("_h1")).agg(min(col("doc_id")).as("_k1"))
    val s1 = e.join(k1, Seq("_h1"))
      .withColumn("_d1", col("doc_id") =!= col("_k1"))
    val k2 = s1.filter(!col("_d1") && col("_h2").isNotNull)
      .groupBy(col("_h2")).agg(min(col("doc_id")).as("_k2"))
    val s2 = s1.join(k2, Seq("_h2"), "left")
      .withColumn("_d2", coalesce(!col("_d1") && col("_h2").isNotNull &&
        col("doc_id") =!= col("_k2"), lit(false)))
    val fp = simhash(docs, idCol, textCol)
      .select(col("doc_id"), col("simhash"))
    val s2f = s2.join(fp, Seq("doc_id"), "left")
    val k3 = s2f.filter(!col("_d1") && !col("_d2") && col("simhash").isNotNull)
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("_k3"))
    s2f.join(k3, Seq("simhash"), "left")
      .withColumn("_d3", coalesce(!col("_d1") && !col("_d2") &&
        col("simhash").isNotNull && col("doc_id") =!= col("_k3"), lit(false)))
      .select(col("doc_id"),
        (!(col("_d1") || col("_d2") || col("_d3"))).as("kept"),
        when(col("_d1"), "exact").when(col("_d2"), "canonical")
          .when(col("_d3"), "near").otherwise("kept").as("reason"))
  }

  /** SimHash near-dup pairs within Hamming distance `maxHamming` (≤ 3):
    * pigeonhole on 4×15-bit blocks — a pair within distance 3 must agree on
    * at least one block, so the bucket join covers all such pairs.
    *
    * Like [[candidatePairs]], the in-bucket cross product is generated from
    * ONE aggregation with a `maxBucket` cap (sorted, so the kept prefix is
    * deterministic): a degenerate block key shared by k docs costs
    * min(k, maxBucket)² pairs, never k² — the skew guard on the QUADRATIC
    * term. Caveat: the `collect_list` buffer itself is still O(k) structs
    * for a k-doc bucket before the slice, so a pathological single key
    * (e.g. billions of byte-identical docs that skipped exact dedup) is
    * bounded by executor memory, not by `maxBucket` — run [[exact]] first
    * (as [[deduplicate]] does) so identical texts collapse before simhash. */
  def simhashPairs(fps: DataFrame, maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming <= 3, "4-block pigeonhole covers hamming <= 3")
    val blocks = fps.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("blk"),
            shiftright(col("simhash"), b * 15).bitwiseAND(0x7FFFL).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.key").as("key"))
    blocks.groupBy(col("blk"), col("key"))
      .agg(slice(sort_array(collect_list(struct(col("doc_id"), col("simhash")))), 1, maxBucket).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("m1"), col("ms"))
      .select(col("m1"), explode(col("ms")).as("m2"))
      .filter(col("m1.doc_id") < col("m2.doc_id"))
      .select(col("m1.doc_id").as("id1"), col("m2.doc_id").as("id2"),
        bit_count(col("m1.simhash").bitwiseXOR(col("m2.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- cross-document duplicated n-gram spans ----
  //
  // The inter-document exact-substring dedup signal at n-gram granularity
  // (the "Deduplicating Training Data Makes Language Models Better" /
  // RefinedWeb cleaning step): an n-gram that occurs at 2+ positions
  // anywhere in the corpus marks every occurrence but the first as a
  // duplicated span. [[dupSpanScore]] emits the per-doc duplicated-gram
  // fraction (a filter signal); [[dupSpanStrip]] rewrites docs with the
  // covered words removed (keep-first rule).

  /** One row per n-gram position: (doc_id, pos, g) with g = the
    * codegen'd n-argument xxhash64 of the gram's tokens — same shifted
    * slice construction as [[shingleHashExplode]], plus the 0-based start
    * position. Spark-only hash path (the oracle groups the gram STRINGS;
    * counts agree absent 64-bit collisions — ~2^-64 per gram pair, the
    * same envelope the minhash family documents). */
  private def dupSpanOccurrences(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int): DataFrame = {
    val zipped = shingleZip(tokensOf(col(textCol)), n)
    docs.select(col(idCol).as("doc_id"), posexplode(zipped).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        xxhash64((0 until n).map(i => col(s"sh.$i")): _*).as("g"))
  }

  /** Per-document duplicated n-gram fraction: the share of a doc's n-gram
    * positions whose gram occurs 2+ times corpus-wide. Three key-hashed
    * shuffles (gram count, count join-back, per-doc agg), all linear in
    * the gram stream — no pairs, no windows. Docs with fewer than n
    * tokens report 0 grams and a NULL fraction (DuckDB's x/0). */
  def dupSpanScore(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val occ = dupSpanOccurrences(docs, idCol, textCol, n)
    val dupCnt = occ.groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
    val perDoc = occ.join(dupCnt, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("_nd"))
    docs.select(col(idCol).as("doc_id"),
        greatest(size(tokensOf(col(textCol))) - (n - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("_nd"), lit(0L)).as("n_dup"),
        round(try_divide(coalesce(col("_nd"), lit(0L)).cast("double"),
          col("n_grams")), 6).as("dup_frac"))
  }

  /** Remove duplicated spans, keeping the FIRST occurrence of each
    * corpus-duplicated n-gram (first = min (doc_id, pos), one aggregate —
    * no window over the gram stream). A word survives iff no removed
    * occurrence's [start, start+n) interval covers its position; docs
    * with no removals pass through byte-identical. The per-doc removal
    * start list is doc-sized (bounded by the doc's own gram count), so
    * the coverage test is in-memory array work after one doc-keyed join —
    * the token stream itself never re-shuffles for reassembly.
    * Returns (doc_id, text_clean, n_removed). */
  def dupSpanStrip(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val occ = dupSpanOccurrences(docs, idCol, textCol, n)
    val firsts = occ.groupBy(col("g"))
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("c") > 1)
    val removals = occ.join(firsts, Seq("g"))
      .filter(!(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos")))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_starts"))
      .withColumnRenamed("doc_id", "_rid")
    val toks = tokensOf(col(textCol))
    // linear two-pointer coverage walk over the SORTED start list (native
    // kernel, stays in codegen) — the exists()-in-filter() form it
    // replaces was O(tokens × removals) interpreted per doc; the `when`
    // below still guards it off the common no-removal row
    val kept = graft.functions.SpanStrip.strip(toks, col("_starts"), n)
    docs.join(removals, col(idCol) === col("_rid"), "left")
      .withColumn("_kept", when(col("_starts").isNotNull, kept))
      .select(col(idCol).as("doc_id"),
        when(col("_starts").isNull, col(textCol))
          .otherwise(concat_ws(" ", col("_kept"))).as("text_clean"),
        when(col("_starts").isNull, lit(0L))
          .otherwise((size(toks) - size(col("_kept"))).cast("long")).as("n_removed"))
  }

  /** L47: BLOCKED FUZZY entity-resolution join (record-linkage MDM
    * dedup): pairs of records whose KEY STRING is within `maxDist` edit
    * operations, found inside deterministic BLOCKS instead of all-pairs
    * — the standard blocking trade (like LSH: candidate recall is scoped
    * to the block by design, and the oracle replicates the identical
    * blocks, so parity is exact).
    *
    * Block key = the key string minus its last `suffixLen` characters:
    * block membership is bounded by alphabet^suffixLen REGARDLESS of
    * corpus size (for digit suffixes, 10^suffixLen), so the in-block
    * self-join is O(blocks · bound²) with a corpus-independent bound —
    * the 100 TB shape. The join shuffles both sides ONCE on the block
    * key; `levenshtein` (codegen'd, both engines implement the classic
    * DP) runs only inside blocks; `id1 < id2` halves the candidate set.
    * Returns (id1, id2, dist) for verified pairs.
    *
    * suffixLen trades recall scope for cost QUADRATICALLY: 3 digits
    * meant ≤1000-row blocks → 500k comparisons per block and, worse, a
    * parallelism ceiling of #blocks (15 join keys at sf0.1 — measured
    * 21 s); 2 digits bounds blocks at 100 rows → 100× less work per
    * block and 10× more keys, the right default for a join whose
    * per-pair verify is an O(|a|·|b|) DP.
    *
    * `maxBlock` is the BLOCK-PURGING cap every record-linkage blocker
    * ships: the alphabet bound above assumes distinct keys, but a real
    * corpus has exact-duplicate keys (measured: the ×10 replica corpus
    * duplicates names 10× → 1000-row blocks → 108× slope, 221 s). Only
    * the first `maxBlock` records per block (deterministic id order)
    * enter the self-join — in-block work is then bounded by maxBlock²
    * at ANY corpus size; the oracle replicates the identical cut, and
    * exact-duplicate keys are the EXACT-dedup stage's job anyway. */
  def fuzzyJoin(recs: DataFrame, idCol: String, keyCol: String,
                maxDist: Int = 1, suffixLen: Int = 2,
                maxBlock: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = recs.select(col(idCol).as("id"), col(keyCol).as("k"),
        expr(s"substring($keyCol, 1, length($keyCol) - $suffixLen)").as("blk"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("id"))))
      .filter(col("_rk") <= maxBlock)
      .drop("_rk")
    val a = keyed.select(col("id").as("id1"), col("k").as("k1"), col("blk"))
    val b = keyed.select(col("id").as("id2"), col("k").as("k2"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("k1"), col("k2")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
