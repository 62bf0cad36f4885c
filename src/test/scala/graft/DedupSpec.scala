package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val base = "the quick brown fox jumps over the lazy dog again and again until dusk settles on the quiet town"
  val nearDup = base.replace("quiet", "sleepy") // one-token edit
  val unrelated = "completely different content about distributed query engines and columnar storage formats at scale"

  def docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated),
    (4L, "short text"), (5L, unrelated)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val r = Dedup.exact(docs, "doc_id", "text").collect()
    assert(r.length == 4) // base, nearDup, unrelated, short
    val dupGroup = r.find(_.getAs[Long]("n") == 2L && r.length > 0)
    val groups = r.map(x => (x.getAs[Long]("keep_id"), x.getAs[Long]("n"))).toMap
    assert(groups(0L) == 2L) // ids 0,1 collapse, keeper is 0
    assert(groups(3L) == 2L) // ids 3,5 collapse
  }

  test("minhash-LSH finds planted near-dups and skips unrelated") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 1L))) // exact dup pair
    assert(ids.contains((0L, 2L)) && ids.contains((1L, 2L))) // near-dup pairs
    assert(!ids.exists { case (a, b) => Set(a, b).contains(3L) && Set(a, b).intersect(Set(0L, 1L, 2L)).nonEmpty })
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
  }

  test("simhash: identical fp for identical text, close for near-dup") {
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L))
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(2L)) <= 8)
    assert(java.lang.Long.bitCount(fps(0L) ^ fps(3L)) > 8)
  }

  test("simhash pairs via 4-block pigeonhole") {
    val fps = Dedup.simhash(docs, "doc_id", "text")
    val pairs = Dedup.simhashPairs(fps, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((3L, 5L)))
  }

  test("simhash pairs: maxBucket caps a hot block key (bounded-pairs skew guard)") {
    // 50 identical fingerprints — every block key is shared by all 50 docs.
    // Uncapped this is C(50,2)=1225 pairs; maxBucket=10 bounds it to the
    // sorted prefix: C(10,2)=45 pairs among doc_ids 0..9.
    val hot = spark.range(50).selectExpr("id AS doc_id", "1234567890123L AS simhash")
    val capped = Dedup.simhashPairs(hot, maxHamming = 3, maxBucket = 10).collect()
    assert(capped.length == 45)
    assert(capped.map(r => math.max(r.getLong(0), r.getLong(1))).max == 9L)
    val uncapped = Dedup.simhashPairs(hot, maxHamming = 3).count()
    assert(uncapped == 1225L)
  }

  test("shingle-less short docs never pair with each other") {
    val shorties = Seq((10L, "one two"), (11L, "ab cd"), (12L, "x y")).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(shorties, "doc_id", "text", minJaccard = 0.0).count() == 0)
  }

  test("connected components: chains merge, min id labels the component") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("connected components on a longer chain (diameter > 2)") {
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs).collect().map(_.getLong(1)).distinct
    assert(cc.toSeq == Seq(1L))
  }

  test("distributed label-propagation path matches union-find path") {
    // adversarial ordering: min id sits mid-chain, plus a shuffled cluster
    val pairs = (Seq((9L, 4L), (4L, 1L), (1L, 6L), (6L, 8L), (8L, 3L)) ++
      Seq((20L, 25L), (25L, 22L), (21L, 22L))).toDF("id1", "id2")
    val local = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(local.values.toSet == Set(1L, 20L))
  }

  test("end-to-end deduplicate keeps one representative per cluster") {
    val kept = Dedup.deduplicate(docs, "doc_id", "text", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // {0,1,2} collapse to 0 (exact 0=1, near-dup 2); {3,5} collapse to 3
    assert(kept == Set(0L, 3L, 4L))
  }

  test("contamination measures shingle overlap against a benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),      // contains a bench 3-gram
      (2L, "totally unrelated words in this doc"), // no overlap
      (3L, "the quick brown fox")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox runs away")).toDF("doc_id", "text")
    val r = Dedup.contamination(corpus, bench, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // doc 1: shingles {the-quick-brown, quick-brown-fox, brown-fox-jumps,
    // fox-jumps-high}; bench contains the first two
    assert(r(1L) == ((4L, 2L, 0.5)))
    assert(r(2L)._2 == 0L)
    assert(r(3L) == ((2L, 2L, 1.0))) // fully contained in the benchmark
  }

  test("bloom-prefiltered contamination equals the exact variant row-for-row") {
    val corpus = Tables.documents(spark, TestSpark.sf)
    val bench = corpus.filter(org.apache.spark.sql.functions.col("doc_id") < 50)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    val exact = asMap(Dedup.contamination(corpus, bench, "doc_id", "text"))
    val bloom = asMap(Dedup.contaminationBloom(corpus, bench, "doc_id", "text"))
    assert(bloom == exact)
  }

  test("bloom contamination with an empty benchmark reports zero everywhere") {
    val corpus = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val bench = corpus.filter(org.apache.spark.sql.functions.lit(false))
    val r = Dedup.contaminationBloom(corpus, bench, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getDouble(3)))).toMap
    assert(r == Map(1L -> ((0L, 0.0)), 2L -> ((0L, 0.0))))
  }

  test("deterministic across runs") {
    val a = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3).orderBy("doc_id").collect().toSeq
    val b = Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("scalar minhash kernel is bit-identical to the shingle aggregate") {
    import org.apache.spark.sql.functions.col
    // edges: short docs (< k tokens → MaxValue sentinel), exactly k,
    // leading/trailing whitespace (empty tokens enter shingles), repeats,
    // multi-byte tokens (byte-slice hashing must cover full UTF-8 runs)
    val edge = Seq("", " ", "a", "a b", "a b c", "a b c d e f g",
      "\ta b c", "a b c ", "x x x x x", "é ü 中文 ok done",
      "one  two   three four")
    val texts = Tables.documents(spark, TestSpark.sf)
      .select(col("text")).collect().map(_.getString(0)).toSeq ++ edge
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for ((nh, k) <- Seq((8, 3), (32, 3), (16, 2), (4, 1))) {
      val fast = Dedup.minhashSignatures(df, "doc_id", "text", nh, k)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val agg = Dedup.minhashSignaturesAgg(df, "doc_id", "text", nh, k)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fast.keySet == agg.keySet, s"nh=$nh k=$k")
      val diff = fast.keys.filter(id => fast(id) != agg(id)).toSeq
      assert(diff.isEmpty, s"nh=$nh k=$k diff ids=${diff.take(3)}: " +
        diff.take(1).map(id => s"${fast(id)} vs ${agg(id)}").mkString)
    }
  }

  test("dupspan score: planted shared span raises only the sharing docs") {
    // docs 0 and 1 share an exact 8-word run; 2 is unrelated; 3 is short
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (0L, s"unique lead in words here $span trailing tail words"),
      (1L, s"other framing text $span different ending entirely now"),
      (2L, "totally disjoint content with no shared octogram anywhere at all today"),
      (3L, "too short")).toDF("doc_id", "text")
    val r = Dedup.dupSpanScore(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), Option(x.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(r(0L)._2 == 1L && r(1L)._2 == 1L) // exactly the one shared 8-gram each
    assert(r(2L)._2 == 0L)
    assert(r(3L) == ((0L, 0L, None))) // 2 tokens -> 0 grams, NULL fraction
    assert(r(0L)._3.contains(BigDecimal(1.0 / r(0L)._1.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  test("dupspan strip: keep-first removes the span from the later doc only") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val t0 = s"unique lead in words here $span trailing tail words"
    val t1 = s"other framing text $span different ending entirely now"
    val t2 = "totally disjoint content with no shared octogram anywhere at all today"
    val d = Seq((0L, t0), (1L, t1), (2L, t2)).toDF("doc_id", "text")
    val r = Dedup.dupSpanStrip(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(0L) == ((t0, 0L)), "first occurrence untouched")
    assert(r(1L) == (("other framing text different ending entirely now", 8L)))
    assert(r(2L) == ((t2, 0L)))
  }

  test("dupspan strip: overlapping duplicated grams remove the union of spans") {
    // 9 shared words = two overlapping 8-grams in doc 1; the covered
    // union is 9 words, not 16
    val span = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = Seq(
      (0L, s"first doc context $span end padding words"),
      (1L, s"second doc begins $span closing remark here")).toDF("doc_id", "text")
    val r = Dedup.dupSpanStrip(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("second doc begins closing remark here", 9L)))
    val score = Dedup.dupSpanScore(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(score(0L) == 2L && score(1L) == 2L)
  }

  test("dupspan: a doc duplicated wholesale strips to empty") {
    val text = "one two three four five six seven eight nine ten"
    val d = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val r = Dedup.dupSpanStrip(d, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(0L) == ((text, 0L)))
    assert(r(1L) == (("", 10L)))
  }

  test("SpanStrip kernel equals the exists()-filter form on random span sets") {
    import org.apache.spark.sql.functions._
    // property check of the two-pointer walk vs the reference lambda it
    // replaced, over adversarial shapes: nested, abutting, overlapping,
    // boundary-clipped, empty, and all-covering start lists
    val n = 3
    val rnd = new scala.util.Random(42)
    val cases = (Seq(Seq.empty[Int], Seq(0), Seq(7), Seq(0, 1, 2, 3, 4, 5, 6, 7)) ++
      (1 to 20).map(_ => (0 until rnd.nextInt(8)).map(_ => rnd.nextInt(10)).distinct.sorted))
      .zipWithIndex
    val df = cases.map { case (starts, id) =>
      (id.toLong, (0 until 10).map(i => s"t$i").toArray, starts.toArray) }
      .toDF("id", "toks", "starts")
    val got = df.select(col("id"),
        graft.functions.SpanStrip.strip(col("toks"), col("starts"), n).as("kept"),
        filter(col("toks"), (_, i) =>
          not(exists(col("starts"), s => i >= s && i < s + n))).as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"case ${r.getLong(0)}")
    }
  }

  test("dedupCascade: stage precedence and reason codes on a planted fixture") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"),      // keeper of the exact group {1,2}
      (2L, "alpha beta gamma"),      // exact dup of 1
      (3L, "Alpha,  BETA gamma!"),   // canonical dup of 1 (survives exact)
      (4L, "totally different words here"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta"),
      (6L, "unique snowflake content")
    ).toDF("doc_id", "text")
    val out = ops.Dedup.dedupCascade(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(out(1L) == ((true, "kept")))
    assert(out(2L) == ((false, "exact")), "exact wins over canonical")
    assert(out(3L) == ((false, "canonical")), "canonical stage sees exact survivors")
    assert(out(4L)._1 && out(6L)._1)
    // every doc classified exactly once; reasons drawn from the code set
    assert(out.size == 6)
    assert(out.values.map(_._2).forall(Set("kept", "exact", "canonical", "near")))
    // determinism
    val again = ops.Dedup.dedupCascade(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(again == out)
  }

  test("canonicalDedup: case/punct/whitespace variants collapse; distinct texts survive") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "HELLO\tWORLD."),
      (4L, "a different doc"),
      (5L, "!!! ..."), // canonical-empty: dropped, matches nothing
      (6L, "?!?")      // also canonical-empty: must NOT group with 5
    ).toDF("doc_id", "text")
    val out = ops.Dedup.canonicalDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L), "empty canonicals must be dropped")
    assert(out(1L) == ((1L, false, 3L)))
    assert(out(2L) == ((1L, true, 3L)))
    assert(out(3L) == ((1L, true, 3L)))
    assert(out(4L) == ((4L, false, 1L)))
  }

  test("AsciiCanon kernel == the lower+regex+trim chain (differential)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // hostile fixture: punctuation runs, mixed whitespace classes, nbsp
    // and CJK (removed, never separators), digits, leading/trailing ws,
    // all-removed strings, Kelvin sign (lowercases INTO ascii 'k')
    val hostile = Seq("Hello,  World!", "HELLO\tWORLD.", " a . b ", "a.b",
      "a b", "a　b", "x  \n\r\f y", "123-456", "!!! ...",
      "", "   ", "mixedCASE09", "Kelvin", "café au lait",
      "tab\tand\nnewline end ",
      // U+0130 İ: the one 1→2 full lowering with an ASCII letter in it
      // (i + combining dot U+0307) — the regex chain keeps the 'i' and
      // since r16 the kernel's explicit branch does too
      "İstanbul", "mİx", "İ",
      // supplementary pair (Deseret capital 𐐀): lowercases
      // non-ASCII, dropped identically by both forms
      "a𐐀b")
    val real = Tables.documents(spark, TestSpark.sf)
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val df = (hostile ++ real).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
    val regexForm = trim(regexp_replace(
      regexp_replace(lower(col("t")), "[^a-z0-9\\s]", ""), "\\s+", " "))
    val bad = df.select(col("id"), col("t"),
        graft.functions.AsciiCanon.canon(col("t")).as("k"), regexForm.as("r"))
      .filter(col("k") =!= col("r")).collect()
    assert(bad.isEmpty, s"kernel diverged on: ${bad.take(3).mkString("; ")}")
  }

  test("dedup_report histogram: groups and docs reconcile exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // one 3-member group, one 2-member group, two singletons
    val docs = Seq(
      (1L, "aaa"), (2L, "AAA!"), (3L, " aaa "),
      (4L, "bbb"), (5L, "BBB"),
      (6L, "ccc"), (7L, "ddd")).toDF("doc_id", "text")
    val canon = ops.Dedup.canonicalDedup(docs, "doc_id", "text")
    val hist = canon.filter(col("doc_id") === col("keeper"))
      .groupBy(col("n_members"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_members")).as("n_docs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hist == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)), 1L -> ((2L, 2L))),
      s"histogram wrong: $hist")
    // mass conservation: sum of n_docs == surviving (non-empty) docs
    assert(hist.values.map(_._2).sum == canon.count())
  }

  test("savingsReport: per-source masses; dups and canonical-empties count as removed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "A, b c!", "s1"), // canonical dups (2 loses)
      (3L, "unique text here", "s1"),
      (4L, "?!.", "s2"), // canonical-empty: removed
      (5L, "x y", "s2")
    ).toDF("doc_id", "text", "source")
    val r = ops.Dedup.savingsReport(docs, "doc_id", "text", "source")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("s1") == ((3L, 9L, 2L, 6L)))  // doc2 (3 tokens) removed
    assert(r("s2") == ((2L, 3L, 1L, 2L)))  // doc4 (1 token '?!.') removed
  }

  test("qualityKeeperDedup: highest-quality member survives, not the min id") {
    import spark.implicits._
    // docs 1 and 2 are canonical twins ("..." strips away), but doc 1's
    // heavy punctuation zeroes its quality — the HIGHER-quality doc 2
    // must keep despite 1 < 2 (where the min-id rule would pick 1)
    val long1 = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs2 = Seq(
      (1L, long1.replace(" ", " ... "), "x"), // punct-penalized variant
      (2L, long1, "x"),
      (3L, "other body", "x")
    ).toDF("doc_id", "text", "source")
    val canon1 = ops.Dedup.qualityKeeperDedup(docs2, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getLong(3), r.getLong(4))).toMap
    // "..." canonicalizes away -> 1 and 2 share a cluster; 2 has the
    // higher quality (no punct penalty) and must keep despite 1 < 2
    assert(canon1(1L)._1 == 2L && canon1(1L)._2, s"got $canon1")
    assert(canon1(2L)._1 == 2L && !canon1(2L)._2)
    assert(canon1(1L)._4 == 2L) // cluster of two
    // ties fall back to the smaller id
    val tied = ops.Dedup.qualityKeeperDedup(
      Seq((5L, "same text body", "x"), (4L, "same text body", "x"))
        .toDF("doc_id", "text", "source"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tied == Map(5L -> 4L, 4L -> 4L))
  }

  test("containmentJoin: equals brute force; catches the subset pair Jaccard misses") {
    import spark.implicits._
    def refPairs(rows: Seq[(Long, String)], pct: Int, k: Int): Set[(Long, Long, Long, Long)] = {
      val sets = rows.map { case (id, t) =>
        val ws = t.trim.split("\\s+")
        id -> ws.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      (for {
        (a, sa) <- sets; (b, sb) <- sets if a != b
        inter = (sa & sb).size.toLong
        if inter * 100 >= pct * sa.size
      } yield (a, b, inter, sa.size.toLong)).toSet
    }
    val sample = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").limit(150)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val df = sample.toDF("doc_id", "text")
    for (pct <- Seq(60, 90)) {
      val got = ops.Dedup.containmentJoin(df, "doc_id", "text", pct, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == refPairs(sample, pct, 3), s"pct=$pct")
    }
    // planted quote-inclusion: doc 1 is wholly inside doc 2's larger
    // body — containment(1→2)=100% while Jaccard is far below 50%
    val planted = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e p q r s t u v w x y z p2 q2 r2 s2 t2 u2 v2 w2")
    ).toDF("doc_id", "text")
    val cont = ops.Dedup.containmentJoin(planted, "doc_id", "text", 90, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont == Set((1L, 2L)), s"got $cont") // asymmetric: only A-in-B
    val jac = ops.Dedup.jaccardJoin(planted, "doc_id", "text", 50, 3)
      .collect()
    assert(jac.isEmpty, "Jaccard must dilute the subset pair away")
  }

  test("containmentCascade: verified subset of the exact join, identical values, full recall on the replica cliques") {
    val toks = ops.Dedup.corpusShingles(spark, TestSpark.sf)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val casc = asMap(ops.Dedup.containmentCascade(toks, minContainPct = 60))
    val full = asMap(ops.Dedup.containmentJoinToks(toks, minContainPct = 60))
    assert(casc.nonEmpty, "degenerate fixture: cascade found nothing")
    // the cascade may only MISS pairs (blocking), never invent or distort:
    // every emitted pair exists in the exact join with identical values
    casc.foreach { case (pair, v) =>
      assert(full.get(pair).contains(v),
        s"$pair: cascade=$v exact=${full.get(pair)}")
    }
    // recall sanity on THIS corpus (near-dup replicas are high-Jaccard,
    // squarely inside the 8×2 banding's detection regime): no pair lost
    assert(casc.keySet == full.keySet,
      s"cascade lost ${(full.keySet -- casc.keySet).size} of ${full.size} pairs")
    // determinism: a second run over the same index is bit-equal
    assert(asMap(ops.Dedup.containmentCascade(toks, minContainPct = 60)) == casc)
  }

  test("jaccardJoin: equals brute force on the corpus; prefix filter loses nothing") {
    import spark.implicits._
    def refPairs(rows: Seq[(Long, String)], pct: Int, k: Int): Set[(Long, Long, Long, Long)] = {
      val sets = rows.map { case (id, t) =>
        val ws = t.trim.split("\\s+")
        id -> ws.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        inter = (si & sj).size.toLong
        uni = (si | sj).size.toLong
        if inter * 100 >= pct * uni
      } yield (i, j, inter, uni)).toSet
    }
    val sample = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text").limit(200)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val df = sample.toDF("doc_id", "text")
    for (pct <- Seq(50, 80)) {
      val got = ops.Dedup.jaccardJoin(df, "doc_id", "text", pct, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == refPairs(sample, pct, 3), s"pct=$pct")
    }
    // monotone in the threshold
    val p50 = ops.Dedup.jaccardJoin(df, "doc_id", "text", 50, 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p80 = ops.Dedup.jaccardJoin(df, "doc_id", "text", 80, 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p80.subsetOf(p50))
    // planted: identical docs J=1; a one-word tail edit stays above 50;
    // short docs (< shingle words) never pair
    val planted = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g zz"), (4L, "totally different text body here"),
      (5L, "x y"), (6L, "x y")
    ).toDF("doc_id", "text")
    val got = ops.Dedup.jaccardJoin(planted, "doc_id", "text", 50, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got.contains((1L, 2L, 6L, 6L)))
    assert(got.exists(t => t._1 == 1L && t._2 == 3L))
    assert(!got.exists(t => t._1 == 5L || t._2 == 6L && t._1 == 5L))
    assert(!got.exists(t => t._1 == 4L || t._2 == 4L))
  }

  test("jaccardDedup: cluster-sized output under mass duplication (n rows, not n(n-1)/2 pairs)") {
    import spark.implicits._
    // a planted 60-member near-dup clique + 40 distinct docs: the pair
    // relation is quadratic in the clique (the documented output-bound
    // regime — 47× at sf1 on the replica corpus), the cluster relation
    // stays linear. This is WHY jaccardDedup is the default consumer
    // shape and pair emission is opt-in (r18 verdict ask #3).
    val clique = (0 until 60).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    val rest = (100 until 140).map(i => (i.toLong, s"doc $i body w${i}a w${i}b w${i}c w${i}d w${i}e"))
    val docs = (clique ++ rest).toDF("doc_id", "text")
    val toks = ops.Dedup.shingleToks(docs, "doc_id", "text", 3)
    val pairs = ops.Dedup.jaccardJoinToks(toks, 50)
    val comps = ops.Dedup.jaccardDedup(toks, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.count() == 60L * 59 / 2, "clique pair relation is quadratic")
    assert(comps.length == 60, "cluster relation is linear in clustered docs")
    // every clique member labels to the min id; distinct docs are absent
    assert(comps.forall { case (id, c) => id < 60 && c == 0L }, comps.take(5).toSeq)
    // agreement with the general components path over the same pairs
    val viaCC = ops.Dedup.connectedComponents(pairs.select($"id1", $"id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comps.toSet == viaCC)
  }

  // ---- checkpoint release on the near-dup path ----

  /** A planted fixture for the release specs: a 14-doc sliding-window chain
    * (neighbours up to 2 apart pair at Jaccard ≥ 50%, so the chain is one
    * component of diameter ~7) with its min id mid-chain, a 5-doc clique,
    * a one-word-edit pair, and 20 distinct docs. */
  private lazy val releaseRows: Seq[(Long, String)] = {
    val chainIds = Seq(40L, 33L, 47L, 31L, 45L, 30L, 41L, 38L, 44L, 32L, 46L, 35L, 43L, 39L)
    val chain = chainIds.zipWithIndex.map { case (id, i) => id -> (i until i + 10).map(w => s"c$w").mkString(" ") }
    val clique = (60L until 65L).map(_ -> "alpha beta gamma delta epsilon zeta eta theta")
    val edit = Seq(70L -> "one two three four five six seven eight nine ten",
      71L -> "one two three four five six seven eight nine eleven")
    val rest = (100L until 120L).map(i => i -> s"doc $i body w${i}a w${i}b w${i}c w${i}d w${i}e")
    chain ++ clique ++ edit ++ rest
  }
  private def shingleSets(rows: Seq[(Long, String)]): Map[Long, Set[String]] =
    rows.map { case (id, t) => id -> t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet }
      .filter(_._2.nonEmpty).toMap
  /** (id1, id2, inter, uni), id1 < id2, Jaccard ≥ pct: brute force. */
  private def bruteJaccard(m: Map[Long, Set[String]], pct: Int): Set[(Long, Long, Long, Long)] =
    (for {
      (i, a) <- m; (j, b) <- m if i < j
      inter = (a & b).size.toLong; uni = (a | b).size.toLong
      if inter * 100 >= pct * uni
    } yield (i, j, inter, uni)).toSet
  /** (id_a, id_b, inter, |A|), containment of A in B ≥ pct: brute force. */
  private def bruteContainment(m: Map[Long, Set[String]], pct: Int): Set[(Long, Long, Long, Long)] =
    (for {
      (i, a) <- m; (j, b) <- m if i != j
      inter = (a & b).size.toLong
      if inter * 100 >= pct * a.size
    } yield (i, j, inter, a.size.toLong)).toSet
  /** doc -> min id of its component, over the docs the pairs touch. */
  private def bruteLabels(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    var label = pairs.flatMap { case (a, b) => Seq(a, b) }.map(id => id -> id).toMap
    var changed = true
    while (changed) {
      val next = pairs.foldLeft(label) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m)
      }
      changed = next != label
      label = next
    }
    label
  }
  private def labelsOf(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  private def quads(d: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def readIds(d: org.apache.spark.sql.DataFrame): Set[Int] =
    d.queryExecution.logical.collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }.toSet

  test("release: a dedup call leaves behind only the checkpoints its result reads, on both components paths") {
    val toks = Dedup.shingleToks(releaseRows.toDF("doc_id", "text"), "doc_id", "text", 3).localCheckpoint()
    val ref = bruteJaccard(shingleSets(releaseRows), 50)
    val refLabels = bruteLabels(ref.map(t => (t._1, t._2)))
    assert(refLabels.values.toSet == Set(30L, 60L, 70L), refLabels) // the fixture's three clusters
    // driver-side union-find: the result is a driver relation, so nothing
    // the call checkpointed (prefix, pairs, verify table, edges) survives
    val before = persistedIds
    val comps = Dedup.jaccardDedup(toks, 50)
    assert(persistedIds -- before == Set.empty, "jaccardDedup left checkpoints pinned")
    assert(labelsOf(comps) == refLabels)
    // distributed label propagation: only the last round's labels, which
    // the result reads, survive — no edge list, no earlier round
    val pairs = Dedup.jaccardJoinToks(toks, 50).select("id1", "id2")
    val beforeDist = persistedIds
    val dist = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
    val reads = readIds(dist)
    assert(reads.size == 1 && persistedIds -- beforeDist == reads,
      s"left ${persistedIds -- beforeDist}, result reads $reads")
    assert(labelsOf(dist) == refLabels)
  }

  test("release: lazily returned verify results still collect after later dedup calls") {
    val df = releaseRows.toDF("doc_id", "text")
    val toks = Dedup.shingleToks(df, "doc_id", "text", 3).localCheckpoint()
    val sets = shingleSets(releaseRows)
    val jac = Dedup.jaccardJoinToks(toks, 50)
    val cont = Dedup.containmentJoinToks(toks, 60)
    // a duplicated pair (each row comes back) and a disjoint pair (J = 0)
    val probe = Seq((60L, 61L), (60L, 61L), (40L, 33L), (70L, 71L), (100L, 101L))
    val ver = Dedup.jaccardVerify(probe.toDF("id1", "id2"), df, "doc_id", "text", 3)
    // later dedup calls on both components paths release what they made
    Dedup.jaccardDedup(toks, 50).collect()
    Dedup.connectedComponents(jac.select("id1", "id2"), localEdgeThreshold = 0L).collect()
    Dedup.jaccardDedup(toks, 80).collect()
    assert(quads(jac) == bruteJaccard(sets, 50))
    assert(quads(cont) == bruteContainment(sets, 60))
    val want = probe.map { case (a, b) =>
      (a, b, (sets(a) & sets(b)).size.toDouble / (sets(a) | sets(b)).size) }
    val got = ver.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(t => (t._1, t._2)).sorted.toSeq == want.map(t => (t._1, t._2)).sorted)
    got.foreach { case (a, b, j) =>
      val w = want.find(t => t._1 == a && t._2 == b).get._3
      assert(math.abs(j - w) <= 1e-6, s"($a, $b): $j, brute force $w")
    }
  }

  test("exact joins at the edges: threshold equality, the length-filter bound, frequency ties") {
    import spark.implicits._
    // shingle = 1, so each doc's set is exactly its distinct words
    def words(p: String, n: Int, from: Int = 1) = (from until from + n).map(i => s"$p$i")
    // a family of v docs over v tokens, doc i = tokens i … i+w−1 (mod v):
    // every token occurs in exactly w docs, so all its frequencies tie and
    // the rarest-first order is decided by the hash alone; docs at cyclic
    // distance d share w − d tokens
    def ring(base: Long, v: Int, w: Int, p: String) =
      (0 until v).map(i => (base + i) -> (0 until w).map(j => s"$p${(i + j) % v}"))
    val sets: Seq[(Long, Seq[String])] = Seq(
      10L -> words("a", 6), 11L -> (words("a", 4) ++ words("b", 2, 5)), // J = 4/8
      12L -> words("c", 5), 13L -> words("c", 4),                        // J = 4/5, |A| = 1.25|B|
      14L -> words("d", 10), 15L -> words("d", 5),                       // J = 5/10, |A| = 2|B|
      16L -> words("e", 11), 17L -> words("e", 5),                       // |A| = 2|B| + 1
      18L -> words("f", 10), 19L -> (words("f", 6) ++ words("g", 4)),    // c = 6/10 both ways
      20L -> words("h", 10), 21L -> (words("h", 9) :+ "i1"),             // c = 9/10 both ways
      22L -> words("j", 10), 23L -> words("j", 6),                       // c(A→B) = 6/10, |B| = 0.6|A|
      24L -> words("k", 10), 25L -> words("k", 9)                        // c(A→B) = 9/10, |B| = 0.9|A|
    ) ++ ring(100L, 30, 9, "u") ++ ring(200L, 40, 10, "t")
    val df = sets.map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
    val m = sets.map { case (id, ws) => id -> ws.toSet }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // brute force, and the edge pairs it must hold (so the fixture really
    // sits on each boundary): equality at the threshold, pairs at the
    // length-filter bound, tie-ranked ring neighbours at exact ratios
    val jaccardEdges = Map(
      50 -> Set((10L, 11L, 4L, 8L), (14L, 15L, 5L, 10L), (100L, 103L, 6L, 12L)),
      80 -> Set((12L, 13L, 4L, 5L), (100L, 101L, 8L, 10L)))
    for ((pct, edges) <- jaccardEdges) {
      val ref = (for {
        (i, a) <- m; (j, b) <- m if i < j
        inter = (a & b).size.toLong; uni = (a | b).size.toLong
        if inter * 100 >= pct * uni
      } yield (i, j, inter, uni)).toSet
      assert(edges.subsetOf(ref) && !ref.exists(t => t._1 == 16L && t._2 == 17L))
      assert(rows(Dedup.jaccardJoin(df, "doc_id", "text", pct, 1)) == ref, s"jaccard pct=$pct")
    }
    val containEdges = Map(
      60 -> Set((18L, 19L, 6L, 10L), (19L, 18L, 6L, 10L), (22L, 23L, 6L, 10L), (200L, 204L, 6L, 10L)),
      90 -> Set((20L, 21L, 9L, 10L), (24L, 25L, 9L, 10L), (200L, 201L, 9L, 10L)))
    for ((pct, edges) <- containEdges) {
      val ref = (for {
        (i, a) <- m; (j, b) <- m if i != j
        inter = (a & b).size.toLong
        if inter * 100 >= pct * a.size
      } yield (i, j, inter, a.size.toLong)).toSet
      assert(edges.subsetOf(ref))
      assert(rows(Dedup.containmentJoin(df, "doc_id", "text", pct, 1)) == ref, s"containment pct=$pct")
    }
  }

  test("fuzzyJoin: in-block near-names pair; cross-block twins never compared") {
    import spark.implicits._
    val recs = Seq(
      (1L, "rec_A_001"), // block rec_A_
      (2L, "rec_A_002"), // dist 1 from id 1 — the planted match
      (3L, "rec_A_034"), // dist 2 from both — above maxDist=1
      (4L, "rec_B_001"), // dist 1 from id 1 but block rec_B_: blocking excludes it
      (5L, "other_Z_99")
    ).toDF("id", "name")
    val got = ops.Dedup.fuzzyJoin(recs, "id", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L)), s"$got")
    // the blocking contract: a cross-block pair is invisible at ANY threshold
    val wide = ops.Dedup.fuzzyJoin(recs, "id", "name", maxDist = 9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!wide.contains((1L, 4L)) && !wide.contains((2L, 4L)))
    // widening the threshold admits the dist-2 in-block neighbor
    assert(wide.contains((1L, 3L)) && wide.contains((2L, 3L)))
    // block purging: only the first maxBlock ids (id order) enter the
    // join — the degenerate-duplicate-key guard the x10 replica exposed
    val dupes = Seq((1L, "same_01"), (2L, "same_01"), (3L, "same_01"),
      (4L, "same_01")).toDF("id", "name")
    val capped = ops.Dedup.fuzzyJoin(dupes, "id", "name", maxBlock = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"$capped")
  }
}
