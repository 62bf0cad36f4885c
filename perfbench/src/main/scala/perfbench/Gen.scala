package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The same seed always yields the same inputs;
  * the program under test only ever sees what these produce. */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit combine of two values. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def shuffled(n: Int, rng: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val k = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(k); a(k) = t
      i -= 1
    }
    a
  }

  // ---- scanpy_recipe: heavy-tailed sparse counts ------------------------

  /** A CSR counts matrix. 5% of its rows are planted low-depth cells with
    * three unit counts each (the row-sum filter removes them); 5% of its
    * columns are planted dead genes with a unit count in a handful of cells
    * (the column-mean filter removes them). */
  final case class Csr(rows: Int, cols: Int, indptr: Array[Long],
                       indices: Array[Int], data: Array[Double]) {
    def nnz: Int = data.length
  }

  def counts(seed: Long, rows: Int, cols: Int, density: Double): Csr = {
    val rng = new SplittableRandom(mix(seed, 1))
    val perm = shuffled(cols, rng)
    val nDead = cols / 20
    val dead = perm.take(nDead).sorted
    val live = perm.drop(nDead)
    // detection probability: a power law over a random gene rank, scaled
    // so the expected density over live genes is `density`
    val w = Array.tabulate(live.length)(r => math.pow(r + 1.0, -0.6))
    val scale = density * live.length / w.sum
    val detect = new Array[Double](cols)
    live.zipWithIndex.foreach { case (g, r) => detect(g) = math.min(0.9, w(r) * scale) }
    val geneScale = Array.fill(cols)(math.exp(0.6 * rng.nextGaussian()))
    // six cell types, each lifting its own marker genes: the structure
    // the leading principal components pick up
    val nTypes = 6
    val typeMult = Array.fill(nTypes, cols)(
      if (rng.nextDouble() < 0.15) math.exp(1.5 * math.abs(rng.nextGaussian())) else 1.0)
    val low = shuffled(rows, rng).take(rows / 20).sorted
    val isLow = new Array[Boolean](rows)
    low.foreach(isLow(_) = true)
    val normal = (0 until rows).filterNot(isLow).toArray
    val deadHits = Array.fill(rows)(List.empty[Int])
    dead.foreach { g =>
      (0 until 4).foreach { _ =>
        val r = normal(rng.nextInt(normal.length))
        if (!deadHits(r).contains(g)) deadHits(r) = g :: deadHits(r)
      }
    }
    val indptr = new Array[Long](rows + 1)
    val idx = new ArrayBuffer[Int](rows * cols / 8)
    val dat = new ArrayBuffer[Double](rows * cols / 8)
    val row = new Array[Double](cols)
    var i = 0
    while (i < rows) {
      java.util.Arrays.fill(row, 0.0)
      if (isLow(i)) {
        var placed = 0
        while (placed < 3) {
          val g = live(rng.nextInt(live.length))
          if (row(g) == 0.0) { row(g) = 1.0; placed += 1 }
        }
      } else {
        val depth = math.exp(0.5 * rng.nextGaussian())
        val t = rng.nextInt(nTypes)
        var g = 0
        while (g < cols) {
          if (detect(g) > 0 && rng.nextDouble() < detect(g)) {
            val mu = 3.0 * depth * geneScale(g) * typeMult(t)(g)
            // Pareto(2.5) tail on top of the unit count
            val tail = math.pow(1.0 - rng.nextDouble(), -1.0 / 2.5) - 1.0
            row(g) = math.min(10000.0, 1.0 + math.floor(mu * tail))
          }
          g += 1
        }
        deadHits(i).foreach(row(_) = 1.0)
      }
      var g = 0
      while (g < cols) {
        if (row(g) != 0.0) { idx += g; dat += row(g) }
        g += 1
      }
      indptr(i + 1) = idx.length.toLong
      i += 1
    }
    Csr(rows, cols, indptr, idx.toArray, dat.toArray)
  }

  // ---- zarr_store: dense f8 matrix ---------------------------------------

  /** Row `i` of the dense matrix: a smooth row/column pattern plus noise,
    * on a 1e-3 grid (so the codecs find some redundancy), never 0 or -0. */
  def denseRow(seed: Long, i: Int, cols: Int): Array[Double] = {
    val r = new SplittableRandom(mix(seed, 1000003L + i))
    val base = math.sin(i * 0.0137) * 50
    Array.tabulate(cols) { j =>
      val v = math.rint((base + math.cos(j * 0.071) * 20 + r.nextGaussian()) * 1000) / 1000 + 0.0
      if (v == 0.0) 0.001 else v
    }
  }

  // ---- corpus_curate: document shards ------------------------------------

  /** The language markers graft's language ID scores; generated content
    * words never collide with any of them. */
  val English = Array("the", "and", "of", "is", "was", "that", "with", "for")
  val French = Array("le", "la", "les", "des", "une", "est", "dans", "pour")
  private val Markers = (English ++ French ++ Seq("el", "los", "las", "una", "que",
    "por", "para", "con", "der", "die", "das", "und", "ist", "nicht", "mit", "ein")).toSet

  /** 20k pseudo-words of 2 to 4 consonant-vowel syllables. */
  lazy val vocab: Array[String] = {
    val syl = for (c <- "bdfgkmnprstvz"; v <- "aeiou") yield s"$c$v"
    val r = new SplittableRandom(0x5EEDL)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 20000) {
      val w = (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
      if (!Markers.contains(w)) out += w
    }
    out.toArray
  }

  /** Shard layout. It depends only on the shard size, never on the seed,
    * so every count the benchmark derives from it repeats exactly: which
    * ids are planted low-quality (short, repetitive or French), and which
    * ids form the exact-duplicate and near-duplicate clusters. */
  final case class Layout(docs: Int, bad: Array[Byte], exact: Array[Array[Long]],
                          near: Array[Array[Long]]) {
    def group(id: Long): String = if (id % 3 == 0) "books" else "web"
  }
  val MixRates: Map[String, Double] = Map("web" -> 0.7, "books" -> 1.0)

  def layout(docs: Int): Layout = {
    val r = new SplittableRandom(0x1A7017L)
    // 0 = clean, 1 = short, 2 = repetitive, 3 = French
    val bad = Array.tabulate(docs)(id => (id % 37) match {
      case 5 => 1.toByte; case 11 => 2.toByte; case 19 => 3.toByte; case _ => 0.toByte
    })
    val clean = shuffled(docs, r).filter(bad(_) == 0)
    var next = 0
    def take(n: Int): Array[Long] = {
      val a = clean.slice(next, next + n).map(_.toLong).sorted
      next += n
      a
    }
    val nClusters = docs / 40
    val exact = Array.fill(nClusters)(take(2 + r.nextInt(3)))
    val near = Array.fill(nClusters)(take(2 + r.nextInt(4)))
    Layout(docs, bad, exact, near)
  }

  final case class Doc(id: Long, group: String, text: String)

  /** One shard of `lay.docs` documents; `shard` picks a fresh text stream so
    * every pass curates documents it has never seen. */
  def shard(seed: Long, shard: Int, lay: Layout): Array[Doc] = {
    val r = new SplittableRandom(mix(seed, 77L + shard))
    val v = vocab
    def word(): String = v(r.nextInt(v.length))
    def cleanWords(): Array[String] = {
      val n = 80 + r.nextInt(50)
      val ws = Array.fill(n)(word())
      // a handful of English function words, never at position 0
      (0 until 6 + r.nextInt(4)).foreach(_ => ws(1 + r.nextInt(n - 1)) = English(r.nextInt(English.length)))
      ws
    }
    val text = new Array[String](lay.docs)
    lay.bad.indices.foreach { id =>
      text(id) = lay.bad(id) match {
        case 0 => cleanWords().mkString(" ")
        case 1 => Array.fill(4)(word()).mkString(" ")
        case 2 => { val w = word(); Array.fill(60)(w).mkString(" ") }
        case _ => Array.tabulate(90)(k => if (k % 4 == 1) French(r.nextInt(French.length)) else word()).mkString(" ")
      }
    }
    lay.exact.foreach { c => val t = text(c(0).toInt); c.foreach(id => text(id.toInt) = t) }
    lay.near.foreach { c =>
      val base = cleanWords()
      c.zipWithIndex.foreach { case (id, k) =>
        val ws = base.clone()
        // member k changes 1..3 content words of its own: any two members
        // differ in at most 6 words of 80+, so their 3-shingle Jaccard
        // stays above 0.5, and no two members are identical
        if (k > 0) (0 until 1 + r.nextInt(3)).foreach { _ =>
          var p = r.nextInt(ws.length)
          while (English.contains(ws(p))) p = r.nextInt(ws.length)
          ws(p) = s"${word()}${"x" * k}"
        }
        text(id.toInt) = ws.mkString(" ")
      }
    }
    Array.tabulate(lay.docs)(id => Doc(id.toLong, lay.group(id), text(id)))
  }

  /** graft's mix rule, recomputed independently: keep iff the first 15 hex
    * digits of md5(id) mod 10000 fall under the group's rate. */
  def mixKeep(id: Long, group: String): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
    val hex = md.map(b => f"${b & 0xff}%02x").mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 10000).toDouble < MixRates(group) * 10000.0
  }
}
