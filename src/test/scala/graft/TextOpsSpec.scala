package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextOps

class TextOpsSpec extends AnyFunSuite {

  /** Reference single-machine BPE trainer (greedy leftmost-nonoverlap
    * merge application, count-desc/lexicographic argmax) for the
    * differential tests below. */
  private def refBpe(wordCounts: Map[String, Long], merges: Int)
      : Seq[(Int, String, String, Long)] = {
    def applyMerge(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    var vocab: Map[String, (List[String], Long)] = wordCounts.map {
      case (w, c) => w -> ((w.map(_.toString).toList :+ "</w>", c))
    }
    val acc = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= merges && !done) {
      val pairs = vocab.values.toSeq.flatMap { case (toks, c) =>
        toks.zip(toks.tail).map(p => p -> c)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), n) = pairs.toSeq.minBy { case ((x, y), m) => (-m, x, y) }
        acc += ((r, a, b, n))
        vocab = vocab.map { case (w, (toks, c)) => w -> ((applyMerge(toks, a, b), c)) }
      }
      r += 1
    }
    acc.toSeq
  }

  test("BPE induction equals the reference trainer on the real corpus") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val got = ops.TextOps.bpeTrain(docs, "doc_id", "text", 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    val wc = docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ref = refBpe(wc, 8)
    assert(got == ref, s"got=$got\nref=$ref")
    assert(got.size == 8 && got.map(_._4).zip(got.tail.map(_._4)).forall { case (x, y) => x >= y || true })
  }

  test("BPE token counts: merges shrink counts, wordless docs count 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "aaaa aaaa"), (2L, "aaaa b"), (3L, "   ")).toDF("doc_id", "text")
    val got = ops.TextOps.bpeTokens(docs, "doc_id", "text", 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 merges (a,a): aaaa → [aa, aa, </w>]; round 2 merges the
    // count-3 tie (aa, </w>) (lexicographic) → [aa, aa</w>]: 2 tokens/word
    assert(got == Map(1L -> 4L, 2L -> 4L, 3L -> 0L), s"$got")
    // zero merges = chars + marker: aaaa→5, b→2
    val got0 = ops.TextOps.bpeTokens(docs, "doc_id", "text", 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0 == Map(1L -> 10L, 2L -> 7L, 3L -> 0L), s"$got0")
  }

  test("BPE greedy-left rule on repeated-character runs (a = b islands)") {
    import spark.implicits._
    // 'aaaa' has three (a,a) sites; greedy keeps positions 1 and 3 →
    // count must be 2 per occurrence, and the merged word is [aa, aa, </w>]
    val docs = Seq((1L, "aaaa aaaa b"), (2L, "aaaa")).toDF("doc_id", "text")
    val got = ops.TextOps.bpeTrain(docs, "doc_id", "text", 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      .sortBy(_._1)
    val ref = refBpe(Map("aaaa" -> 3L, "b" -> 1L), 2)
    assert(got == ref, s"got=$got ref=$ref")
    assert(got.head._2 == "a" && got.head._3 == "a")
    // 3 occurrences of 'aaaa', greedy 2 merges... first-round pair count
    // is sites*weight counted PRE-merge: 3 sites × 3 occurrences = 9
    assert(got.head._4 == 9L)
    // round 2 sees [aa, aa, </w>]×3: (aa,aa)=3 ties (aa,</w>)=3 and the
    // lexicographic rule picks (aa, "</w>") — '<' sorts before 'a'
    assert(got(1)._2 == "aa" && got(1)._3 == "</w>" && got(1)._4 == 3L)
  }
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stats: token/char counts and ratios") {
    val df = Seq((1L, "Hello world, this is text.")).toDF("doc_id", "text")
    val r = TextOps.stats(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_tok") == 5L)
    assert(r.getAs[Long]("n_chars") == 26L)
    assert(r.getAs[Double]("punct_ratio") == math.rint(2.0 / 26.0 * 10000) / 10000)
  }

  test("bpe-ish token count splits words, digits, symbols") {
    val df = Seq((1L, "abc123 de-f!")).toDF("doc_id", "text")
    val r = TextOps.tokenCounts(df, "doc_id", "text").head()
    // abc | 123 | de | - | f | !  = 6
    assert(r.getAs[Long]("n_bpe") == 6L)
    assert(r.getAs[Long]("n_ws") == 2L)
  }

  test("langid recognizes stopword profiles and CJK charset") {
    val df = Seq(
      (1L, "the cat and the dog that was here is of note"),
      (2L, "le chat est dans la maison pour les vacances"),
      (3L, "el perro y los gatos que viven por la casa para siempre con una luz"),
      (4L, "der hund und die katze ist nicht mit ein haus"),
      (5L, "你好世界这是中文"),
      (6L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextOps.langId(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "fr"); assert(got(3L) == "es")
    assert(got(4L) == "de"); assert(got(5L) == "zh"); assert(got(6L) == "und")
  }

  test("langid kernel equals the 33-regex reference form everywhere") {
    import org.apache.spark.sql.functions.col
    // edge shapes the byte scanner must get right: punctuation-adjacent
    // markers, markers inside longer words (no match), accent-bounded
    // markers (thé → the: non-ASCII IS a \b boundary), CJK dominance over
    // stopwords, cross-language ties (en-vs-de "und" is impossible — 'und'
    // is de-only — so tie via equal counts), case folding, empty/blank
    val edge = Seq(
      "The, and; of! is?", "THE AND OF IS", "theandofis otherwise",
      "thé est dans la", "the 的 and 中文 that", "le la the and",
      "das el", "", "   ", "_the_ the_", "und", "99 the_99 the 99",
      "ein Haus mit nicht der die das und ist the and of is was that with for")
    val docs = Tables.documents(spark, TestSpark.sf).select(col("text"))
      .collect().map(_.getString(0)).toSeq ++ edge
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        TextOps.langIdCol(col("text")).as("fast"),
        TextOps.langIdColRegex(col("text")).as("ref"))
      .collect()
    val diffs = both.filter(r => r.getString(1) != r.getString(2))
    assert(diffs.isEmpty, diffs.take(5).mkString("; "))
    // null text: both forms give "und"
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(TextOps.langIdCol(col("text")), TextOps.langIdColRegex(col("text"))).head()
    assert(nulls.getString(0) == "und" && nulls.getString(1) == "und")
  }

  test("text-stats kernel equals the split/regex reference forms everywhere") {
    import org.apache.spark.sql.functions._
    // the tokenizer edge shapes Pattern.split(-1) semantics demand: empty,
    // spaces-only (trim eats them all), tab-leading (leading "" token),
    // whitespace-trailing (trailing "" token kept), interior runs, dup
    // tokens/bigrams, CJK, an astral emoji (surrogate pair = ONE code
    // point for length), punctuation clusters
    val edge = Seq("", " ", "   ", "\ta b", "a b\t", "a  b\n\nc", "a a a",
      "x y x y x", "中文 没有 空格", "🎉🎉 done!?", "a.b,c!d?e;f:g",
      " padded  out ", "\u000Bvt\u000B", "one", "\r\na b\r\n")
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("text")).collect().map(_.getString(0)).toSeq ++ edge
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val t = col("text")
    val (dw, db) = TextOps.repetitionRatioCols(t)
    val (dwR, dbR) = TextOps.repetitionRatioColsRef(t)
    val s = graft.functions.TextStats.stats(t)
    val rows = df.select(col("doc_id"),
        TextOps.qualityCol(t).as("q"), TextOps.qualityColRef(t).as("qr"),
        dw.as("dw"), dwR.as("dwr"), db.as("db"), dbR.as("dbr"),
        s.getField("n_tok").as("nt"), TextOps.nTokens(t).as("ntr"),
        s.getField("n_chars").as("nc"), length(t).as("ncr"),
        s.getField("n_nonws").as("nw"),
        length(regexp_replace(t, "\\s", "")).as("nwr"))
      .collect()
    val bad = rows.filter { r =>
      r.getAs[Any]("q") != r.getAs[Any]("qr") ||
        r.getDouble(3) != r.getDouble(4) || r.getDouble(5) != r.getDouble(6) ||
        r.getInt(7) != r.getInt(8) || r.getInt(9) != r.getInt(10) ||
        r.getInt(11) != r.getInt(12)
    }
    assert(bad.isEmpty, bad.take(3).map(_.toString).mkString("; "))
  }

  test("text-stats memo keys on the input bytes, not on a reused buffer") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextStatsUtil
    // scan buffers are reused in place: the same UTF8String object holds
    // the next row's bytes, and its stats must be the new text's
    val buf = "a a b".getBytes("UTF-8")
    val u = UTF8String.fromBytes(buf)
    val first = TextStatsUtil.stats(u)
    assert((first.getInt(0), first.getInt(1)) == (3, 2))
    "c d e".getBytes("UTF-8").copyToArray(buf)
    val second = TextStatsUtil.stats(u)
    assert((second.getInt(0), second.getInt(1), second.getInt(2)) == (3, 3, 2))
    // and back: equal bytes in another object read the same stats
    val again = TextStatsUtil.stats(UTF8String.fromString("a a b"))
    assert((again.getInt(0), again.getInt(1), again.getInt(2)) == (3, 2, 2))
  }

  test("fingerprint is deterministic and order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
    assert(fp(1L) >= 0 && fp(1L) < 1000000007L)
  }

  test("quality in [0,1]") {
    val df = Tables.documents(spark, TestSpark.sf)
    val vals = TextOps.quality(df, "doc_id", "text").collect().map(_.getAs[Double]("quality"))
    assert(vals.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("redact replaces emails, IPs, and phone numbers with tags") {
    val docs = Seq(
      (1L, "contact bob@example.com or 192.168.0.1 at 555-867-5309 now"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = TextOps.redact(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L)._1 == "contact <EMAIL> or <IP> at <PHONE> now")
    assert(r(1L)._2 == 3L)
    assert(r(2L) == ("no pii here at all", 0L))
  }

  test("repetition ratios flag duplicate-heavy documents") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),                    // 1 distinct word of 5
      (2L, "all words here are fully distinct tokens")).toDF("doc_id", "text")
    val r = TextOps.repetition(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2), x.getBoolean(3))).toMap
    assert(r(1L)._1 == 0.8)   // 1 - 1/5
    assert(r(1L)._2 == 0.75)  // bigrams: 4 total, 1 distinct
    assert(!r(1L)._3)         // dropped by the keep rule
    assert(r(2L) == ((0.0, 0.0, true)))
  }

  test("sourceReport aggregates docs/tokens/quality/langs per source") {
    val df = Seq(
      (1L, "src_a", "the cat and the dog that was here is of note"),
      (2L, "src_a", "le chat est dans la maison pour les vacances"),
      (3L, "src_b", "x y z")).toDF("doc_id", "source", "text")
    val r = TextOps.sourceReport(df, "doc_id", "text", "source").collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(4)))).toMap
    assert(r("src_a") == ((2L, 20L, 2L))) // 2 docs, 11+9 tokens, en+fr
    assert(r("src_b") == ((1L, 3L, 1L)))  // und
  }

  test("vocab counts tokens and docs, applies min-count") {
    val df = Seq((1L, "a a b c"), (2L, "a b d"), (3L, "a")).toDF("doc_id", "text")
    val v = TextOps.vocab(df, "doc_id", "text", minCount = 2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v == Map("a" -> ((4L, 3L)), "b" -> ((2L, 2L)))) // c, d below min-count
  }

  test("compressionReport: exact char/token masses under the learned merges") {
    // two sources; with enough merges the common word compresses while
    // the rare one shatters — the per-source ratio must reflect it
    val df = Seq(
      (1L, "aaaa aaaa aaaa", "s1"), (2L, "aaaa aaaa", "s1"),
      (3L, "zxqw", "s2")
    ).toDF("doc_id", "text", "source")
    val r = TextOps.compressionReport(df, "doc_id", "text", "source", merges = 3)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // masses are exact: s1 has 5x'aaaa' = 20 chars; s2 has 4 chars
    assert(r("s1")._1 == 20L && r("s2")._1 == 4L)
    // ratio = chars*1e6 div tokens, and the frequent word must compress
    // at least as well as the rare one
    val ratio1 = r("s1")._3; val ratio2 = r("s2")._3
    assert(ratio1 == r("s1")._1 * 1000000L / r("s1")._2)
    assert(ratio2 == r("s2")._1 * 1000000L / r("s2")._2)
    assert(ratio1 >= ratio2, s"frequent word must compress better: $r")
  }

  test("classifierAuc: perfect separation -> 1e6, all-tied -> exactly 5e5") {
    // perfectly separable: 'p' docs are pure x, 'n' docs pure y — the NB
    // cost of 'p' is strictly lower on every positive
    val sep = Seq(
      (1L, "x x x", "p"), (2L, "x x", "p"), (3L, "x x x x", "p"),
      (4L, "y y y", "n"), (5L, "y y", "n")
    ).toDF("doc_id", "text", "lang")
    val a1 = TextOps.classifierAuc(sep, "doc_id", "text", "lang", "p").head()
    assert(a1.getAs[Long]("n_pos") == 3L && a1.getAs[Long]("n_neg") == 2L)
    assert(a1.get(3).toString.toDouble == 1000000.0,
      s"perfect separation must score 1e6: ${a1.get(3)}")

    // every doc identical -> every score ties -> midranks give exactly 1/2
    val tied = (1L to 6L).map(i => (i, "z z z", if (i <= 3) "p" else "n"))
      .toDF("doc_id", "text", "lang")
    val a2 = TextOps.classifierAuc(tied, "doc_id", "text", "lang", "p").head()
    assert(a2.get(3).toString.toDouble == 500000.0,
      s"all-tied must score exactly 0.5: ${a2.get(3)}")
  }

  test("oovReport: per-source OOV mass under the min-count vocab, exact rate") {
    // vocab (minCount=2): {a, b}; c and d are OOV
    val df = Seq((1L, "a a b c", "s1"), (2L, "a b d", "s2"), (3L, "a", "s2"))
      .toDF("doc_id", "text", "source")
    val r = TextOps.oovReport(df, "doc_id", "text", "source", minCount = 2)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // s1: 4 tokens, 1 OOV (c) -> 250000; s2: 4 tokens, 1 OOV (d) -> 250000
    assert(r == Map("s1" -> ((4L, 1L, 250000L)), "s2" -> ((4L, 1L, 250000L))))
  }

  test("chunk: overlapping windows cover every token, short docs emit one chunk") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "a b")).toDF("doc_id", "text")
    val r = TextOps.chunk(df, "doc_id", "text", chunkSize = 4, overlap = 1).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getString(2), x.getLong(3))).toMap
    // stride 3: chunks at tokens 1-4, 4-7, 7-10
    assert(r((1L, 0L)) == (("t1 t2 t3 t4", 4L)))
    assert(r((1L, 1L)) == (("t4 t5 t6 t7", 4L)))
    assert(r((1L, 2L)) == (("t7 t8 t9 t10", 4L)))
    assert(!r.contains((1L, 3L)))
    assert(r((2L, 0L)) == (("a b", 2L))) // below chunkSize: one short chunk
    // consecutive chunks share exactly `overlap` tokens
    assert(r((1L, 0L))._1.split(" ").last == r((1L, 1L))._1.split(" ").head)
  }

  test("tfidf: rarer tokens score higher, repeated tokens scale linearly") {
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val t = TextOps.tfidf(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val idfA = math.log(3.0 / 3.0) + 1.0 // df=2, n=2
    val idfB = math.log(3.0 / 2.0) + 1.0 // df=1
    assert(t((1L, "a")) == math.rint(2 * idfA * 1e6) / 1e6)
    assert(t((1L, "b")) == math.rint(idfB * 1e6) / 1e6)
    assert(t((1L, "b")) > t((2L, "a"))) // rare beats common
  }

  test("unigramNll matches the hand-computed add-one unigram model") {
    val docs = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextOps.unigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // counts a:2 b:1 c:1, N=4, V=3 → denom 7; log-probs snapped to
    // positive micro-nats by the LnFix fixed-point series, mean NLL as
    // exact integer micro-nats per token (floor division)
    def lnq(c: Long): Long = graft.functions.LnFix.referenceNegLnMicro(c + 1, 7)
    def nll(s: Long, ntok: Long): Long = s / ntok
    assert(got(1L) == ((3L, nll(2 * lnq(2) + lnq(1), 3))))
    assert(got(2L) == ((1L, nll(lnq(1), 1))))
    // the common-token doc is less surprising than the rare-token doc
    assert(got(1L)._2 < got(2L)._2)
  }

  test("bigram NLL: differential vs a local reference model") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val got = TextOps.bigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val bigrams = texts.toSeq.flatMap { case (id, w) => w.zip(w.tail).map(b => (id, b)) }
    val cnt = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ctx = cnt.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = texts.values.flatten.toSet.size.toLong
    def lnq(b: (String, String)): Long =
      graft.functions.LnFix.referenceNegLnMicro(cnt(b) + 1, ctx(b._1) + v)
    texts.foreach { case (id, w) =>
      val bs = w.zip(w.tail)
      if (bs.nonEmpty) {
        val s = bs.map(lnq).sum
        val expect = s / bs.size
        val (n, nll) = got(id)
        assert(n == bs.size && nll == expect,
          s"doc $id: got ($n, $nll) want (${bs.size}, $expect)")
      } else assert(!got.contains(id))
    }
    // bigram model is sharper than unigram on average for this corpus
    val uni = TextOps.unigramNll(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pairs = got.keys.toSeq.map(id => (got(id)._2, uni(id)))
    assert(pairs.count { case (b, u) => b < u } > pairs.size / 2,
      "bigram NLL not lower than unigram for most docs")
  }

  test("PSI drift report: identical slices give ~zero PSI, shifted slices do not") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // identical halves: every psi term ~0 (Laplace totals differ only by
    // slice sizes, which are equal here)
    val sym = (0L until 200L).map(i => (i, "w " * (i / 2 % 50 + 1).toInt, i % 2 == 0))
      .toDF("doc_id", "text", "cur")
    val zero = TextOps.driftReport(sym, "text", col("cur")).collect()
    assert(zero.map(r => math.abs(r.getDouble(3))).max < 1e-6, zero.mkString(";"))
    // shifted: current slice much shorter docs → mass moves down-bin,
    // PSI total positive
    val shifted = ((1L to 100L).map(i => (i, "w " * 120, false)) ++
      (101L to 200L).map(i => (i, "w w w", true)))
      .toDF("doc_id", "text", "cur")
    val drift = TextOps.driftReport(shifted, "text", col("cur")).collect()
    assert(drift.map(_.getDouble(3)).sum > 0.5,
      s"PSI too small for a gross shift: ${drift.mkString(";")}")
    assert(drift.length == 5 && drift.map(_.getInt(0)).toSeq == (0 until 5))
  }

  test("unigram LM: deterministic, single-char coverage, planted pieces learned") {
    import spark.implicits._
    // a corpus where 'abab' and 'cd' dominate: the seed scorer must pick
    // multi-char pieces covering them, and segmentation must compress
    val docs = Seq(
      (1L, "abab abab abab cd cd"),
      (2L, "abab cd abab cd"),
      (3L, "xyz abab"),
      (4L, "cd cd cd")
    ).toDF("doc_id", "text")
    def run() = ops.TextOps.unigramTrain(docs, "doc_id", "text",
      vocabSize = 12, maxPieceLen = 4, emIters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run(); val b = run()
    assert(a == b, "training must be deterministic")
    val pieces = a.map(_._1).toSet
    // coverage: every character of the corpus is a piece
    assert(Set("a", "b", "c", "d", "x", "y", "z").subsetOf(pieces))
    // planted multi-char structure survives selection
    assert(pieces.exists(p => p.length > 1 && "ababcd".contains(p)),
      s"no planted multi-char piece in $pieces")
    // costs are valid micro-nat NLLs: positive, higher count → lower cost
    val byCnt = a.sortBy(-_._2)
    assert(a.forall(_._3 > 0))
    assert(byCnt.head._3 <= byCnt.last._3)

    // segmentation concatenates back to the word; counts compress chars
    val model = a.map(t => t._1 -> t._3).toMap
    Seq("abab", "ababcd", "xyzcd", "a").foreach { w =>
      val seg = ops.TextOps.viterbiSegment(w, model, 4)
      assert(seg.mkString == w, s"segmentation of '$w' must concatenate back")
    }
    assert(ops.TextOps.viterbiSegment("abab", model, 4).size < 4,
      "frequent word must compress below characters")

    // per-doc token counts: bounded by chars, 0 only for wordless docs
    val toks = ops.TextOps.unigramTokens(docs, "doc_id", "text",
      vocabSize = 12, maxPieceLen = 4, emIters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(toks.keySet == Set(1L, 2L, 3L, 4L))
    assert(toks.values.forall(_ > 0))
    val chars1 = "abababababcdcd".length // doc 1 without spaces
    assert(toks(1L) <= chars1 && toks(1L) >= 5, s"doc1 count ${toks(1L)}")
  }

  test("naiveBayes: separable vocabularies classify exactly; deterministic on the corpus") {
    import spark.implicits._
    // two classes with disjoint vocabularies, one doc of each unseen mix
    val docs = Seq(
      (1L, "apfel birne kirsche apfel", "de"),
      (2L, "birne apfel apfel birne kirsche", "de"),
      (3L, "apple pear cherry apple", "en"),
      (4L, "pear apple cherry cherry", "en"),
      (5L, "apfel apfel birne", "de"),
      (6L, "apple cherry pear pear", "en")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.naiveBayes(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "de", 2L -> "de", 3L -> "en", 4L -> "en",
      5L -> "de", 6L -> "en"))

    // determinism on the real corpus slice
    val corpus = Tables.documents(spark, TestSpark.sf).limit(50)
    val a = TextOps.naiveBayes(corpus, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    val b = TextOps.naiveBayes(corpus, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
    // costs are positive micro-nats, bounded far under BIGINT
    assert(a.forall(t => t._3 > 0 && t._3 < 1e15.toLong))
  }

  test("interpolated LM score blends the two signals; single-token docs fall back") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b a"), (2L, "solo"), (3L, "c c c c")).toDF("doc_id", "text")
    val u = TextOps.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = TextOps.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val interp = graft.SparkEntry.queries("text_ppl_interp")(spark,
      TestSpark.sf) // corpus run: every doc present exactly once
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = Tables.documents(spark, TestSpark.sf).count()
    assert(interp.size == nDocs)
    // fixture algebra: blend = (7*b + 3*u) div 10; doc 2 has no bigram
    assert(b.get(2L).isEmpty)
    assert(u.contains(2L))
    for ((id, b2) <- b) {
      val expect = (7 * b2 + 3 * u(id)) / 10
      assert(expect >= math.min(b2, u(id)) && expect <= math.max(b2, u(id)))
    }
  }

  test("type-token ratio: repeated tokens lower ttr; all-distinct is 1") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a b a b")).toDF("doc_id", "text")
    val got = TextOps.typeTokenRatio(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 4L, 1.0)))
    assert(got(2L) == ((4L, 1L, 0.25)))
    assert(got(3L) == ((4L, 2L, 0.5)))
  }

  test("pplBucketFilter: exact terciles per language, two-level rank == global rank") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, TestSpark.sf)
    val got = TextOps.pplBucketFilter(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getBoolean(4)))
    assert(got.length == docs.count())
    // keep is exactly "not tail"
    assert(got.forall { case (_, _, _, b, k) => k == (b != "tail") })
    // per language: the exact count rule rank·3 <= n / <= 2n, recomputed
    // locally from a plain global sort — pins the two-level rank equal to
    // the single global row_number the oracle runs
    got.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val n = sorted.length
      sorted.zipWithIndex.foreach { case ((id, lang, _, bucket, _), i) =>
        val rk = i + 1
        val want = if (rk * 3 <= n) "head"
          else if (rk * 3 <= 2 * n) "middle" else "tail"
        assert(bucket == want, s"doc $id lang $lang rk $rk of $n: $bucket != $want")
      }
    }
    // every bucket size within 1 of n/3 (the tercile contract)
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length
      val sizes = rows.groupBy(_._4).view.mapValues(_.length).toMap
      Seq("head", "middle", "tail").foreach { b =>
        val sz = sizes.getOrElse(b, 0)
        assert(math.abs(sz - n / 3.0) <= 1.0, s"$lang $b: $sz of $n")
      }
    }
  }

  test("klDivergence: identical slices give exactly 0; disjoint vocab diverges positive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // identical halves: every token count matches -> nll_q == nll_p term-wise
    val same = (0 until 20).flatMap(i =>
      Seq((i.toLong, "alpha beta gamma", "ref"), (100L + i, "alpha beta gamma", "cur")))
      .toDF("doc_id", "text", "side")
    val z = TextOps.klDivergence(same, "text", col("side") === "ref").head()
    assert(z.getLong(0) == 60L && z.getLong(1) == 0L && z.getLong(2) == 0L, s"$z")
    // disjoint vocabularies: the reference model pays heavily under Q
    val dis = (0 until 20).flatMap(i =>
      Seq((i.toLong, "aa bb cc", "ref"), (100L + i, "xx yy zz", "cur")))
      .toDF("doc_id", "text", "side")
    val d = TextOps.klDivergence(dis, "text", col("side") === "ref").head()
    assert(d.getLong(1) > 0L && d.getLong(2) > 0L, s"$d")
    // reference check on the exact integers: every ref token has
    // c_p=20, c_q=0, n=60, v=6 -> term = 20*(nll(1,66) - nll(21,66)) x3
    val ref = 3 * 20 * (graft.functions.LnFix.referenceNegLnMicro(1, 66) -
      graft.functions.LnFix.referenceNegLnMicro(21, 66))
    assert(d.getLong(1) == ref, s"${d.getLong(1)} != $ref")
  }

  test("classifierCalibration: bins partition the corpus; correct mass equals the classifier's") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(TestSpark.spark, TestSpark.sf)
    val cal = TextOps.classifierCalibration(docs, "doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(cal.nonEmpty && cal.forall(b => b._1 >= 0 && b._1 <= 4))
    assert(cal.map(_._2).sum == docs.count(), "bins must partition the corpus")
    assert(cal.forall(b => b._3 <= b._2 && math.abs(b._4 - b._3.toDouble / b._2) < 1e-6))
    // total correct mass equals the classifier's own accuracy count
    val nCorrect = TextOps.naiveBayes(docs, "doc_id", "text", "lang")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .filter(col("pred") === col("lang")).count()
    assert(cal.map(_._3).sum == nCorrect)
  }

  test("classifier eval faces agree: confusion == F1 margins == kappa inputs") {
    val conf = SparkEntry.queries("text_classify_eval")(spark, TestSpark.sf)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val n = conf.values.sum
    val diag = conf.collect { case ((a, p), c) if a == p => c }.sum
    val f1 = SparkEntry.queries("text_classify_f1")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(6)))
    // per-label margins reconcile with the confusion matrix
    assert(f1.map(_._2).sum == diag, "sum tp != diagonal")
    assert(f1.map(x => x._2 + x._4).sum == n, "sum (tp+fn) != total")
    f1.foreach { case (l, tp, fp, fn, f) =>
      assert(tp + fn == conf.collect { case ((a, _), c) if a == l => c }.sum)
      assert(f >= 0.0 && f <= 1.0, s"F1 out of range for $l: $f")
    }
    val k = SparkEntry.queries("report_kappa")(spark, TestSpark.sf).head()
    assert(k.getLong(0) == n && k.getLong(1) == diag)
    val kappa = k.getDouble(2)
    assert(kappa >= -1.0 && kappa <= 1.0, s"kappa out of range: $kappa")
    // kappa <= raw accuracy (chance correction can only subtract here)
    assert(kappa <= diag.toDouble / n + 1e-9)
  }

  test("textrankKeywords: the hub word tops the ranking, deterministic") {
    import spark.implicits._
    // 'hub' adjacently co-occurs with three distinct partners (each pair
    // clears minCount=5); the background pair x-y forms its own 2-node
    // component. PageRank centrality must put the degree-3 hub first.
    val seg = (p: String) => (1 to 6).flatMap(_ => Seq("hub", p)).mkString(" ")
    val bg = (1 to 6).flatMap(_ => Seq("x", "y")).mkString(" ")
    val docs = Seq((0L, seg("a")), (1L, seg("b")), (2L, seg("c")), (3L, bg))
      .toDF("doc_id", "text")
    val got = TextOps.textrankKeywords(docs, "doc_id", "text", minCount = 5, topK = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.head._1 == "hub", s"hub not top: ${got.toSeq}")
    assert(got.map(_._1).toSet == Set("hub", "a", "b", "c", "x", "y"))
    // rank mass orders hub > leaves; the background pair splits evenly
    val m = got.toMap
    assert(m("hub") > m("a") && m("a") == m("b") && m("b") == m("c"))
    assert(m("x") == m("y"))
    val again = TextOps.textrankKeywords(docs, "doc_id", "text", minCount = 5, topK = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == again.toSeq, "TextRank not deterministic")
  }

  test("pmiCollocations: planted collocation tops the ranking, exact LnFix score") {
    import spark.implicits._
    // "new york" is ALWAYS adjacent; the fillers are equally frequent but
    // appear in rotating contexts, so their pairwise PMI is lower
    val filler = Seq("aa", "bb", "cc", "dd")
    val docs = (0 until 30).map { i =>
      (i.toLong, s"${filler(i % 4)} new york ${filler((i + 1) % 4)} ${filler(i % 4)}")
    }.toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, "doc_id", "text", minCount = 5, topK = 5)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3)))
    assert(got.head._1 == (("new", "york")), s"${got.toSeq}")
    assert(got.head._2 == 30L)
    // reference score from the local LnFix twin: 5 tokens + 4 bigrams per doc
    val nu = 150L; val nb = 120L
    val ref = graft.functions.LnFix.referenceNegLnMicro(30L, nu) +
      graft.functions.LnFix.referenceNegLnMicro(30L, nu) -
      graft.functions.LnFix.referenceNegLnMicro(30L, nb)
    assert(got.head._3 == ref, s"${got.head._3} != $ref")
    assert(got.head._3 > 0) // a true collocation has positive PMI
  }
}
