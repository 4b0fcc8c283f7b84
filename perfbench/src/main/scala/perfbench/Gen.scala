package perfbench

import scala.util.Random

/** Seeded input generators. The same seed gives the same vectors, CDC
  * batches and documents; graft only ever sees what they produce. */
object Gen {

  /** Gaussian-clustered vectors: `centers` cluster means drawn uniformly
    * in [-1, 1]^dim, each point a mean plus N(0, sigma²) noise per axis. */
  final class Clusters private (centers: Array[Array[Double]], sigma: Double, drawSeed: Long) {
    def this(seed: Long, dim: Int, nCenters: Int, sigma: Double) =
      this({ val r = new Random(seed); Array.fill(nCenters, dim)(r.nextDouble() * 2 - 1) },
        sigma, seed + 1)
    private val rnd = new Random(drawSeed)
    def next(): Array[Float] = {
      val c = centers(rnd.nextInt(centers.length))
      Array.tabulate(c.length)(i => (c(i) + rnd.nextGaussian() * sigma).toFloat)
    }
    /** The same cluster means with an independent stream of draws. */
    def fork(drawSeed: Long): Clusters = new Clusters(centers, sigma, drawSeed)
  }

  /** Squared L2 in float64, accumulated left to right over the float
    * components — the order graft's distance kernel sums in, so exact
    * results compare bit for bit. */
  def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Brute-force top-k by (distance, id) ascending — graft's tie order. */
  def topK(corpus: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[(Long, Double)] =
    corpus.iterator.map { case (id, v) => (id, l2Sq(v, q)) }.toSeq
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** One CDC micro-batch: rows of (op, vec_id, embedding). */
  final case class CdcBatch(rows: Seq[(String, Long, Array[Float])]) {
    def size: Int = rows.size
  }

  /** CDC batches against a live model: `adds` fresh ids, `dels` deletes
    * of ids live before the batch (base or earlier deltas), and `pairs`
    * fresh ids added and deleted in the same batch. Ids are never reused,
    * so no batch re-adds an id deleted earlier. `model` is updated to the
    * netted result of each batch as it is generated. */
  final class CdcStream(seed: Long, vecs: Clusters, firstId: Long,
      model: scala.collection.mutable.LinkedHashMap[Long, Array[Float]]) {
    private val rnd = new Random(seed)
    private var nextId = firstId

    def next(adds: Int, dels: Int, pairs: Int): CdcBatch = {
      val live = model.keysIterator.toIndexedSeq
      val delIds = rnd.shuffle(live).take(dels)
      val added = Seq.fill(adds) { nextId += 1; (nextId, vecs.next()) }
      val paired = Seq.fill(pairs) { nextId += 1; (nextId, vecs.next()) }
      val rows =
        added.map { case (id, v) => ("add", id, v) } ++
          paired.map { case (id, v) => ("add", id, v) } ++
          delIds.map(id => ("del", id, model(id))) ++
          paired.map { case (id, v) => ("del", id, v) }
      delIds.foreach(model.remove)
      added.foreach { case (id, v) => model.put(id, v) }
      CdcBatch(rnd.shuffle(rows))
    }
  }

  /** Synthetic web-like documents over a seeded pseudo-word vocabulary.
    * Each line is one sentence ending in '.', so most pages pass the
    * Gopher and C4 rules; a share is made short (fails the word-count
    * band) or carries a '{' (fails C4). */
  final class Docs(seed: Long) {
    private val rnd = new Random(seed)
    private val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    private val syll = Seq("ka", "lo", "mi", "ser", "tan", "vel", "or", "pu", "dri",
      "en", "sha", "qui", "bo", "nel", "ast", "rim", "ule", "fo", "zen", "ga")
    private val words: IndexedSeq[String] = {
      val r = new Random(7L) // the vocabulary itself is fixed across seeds
      (0 until 4000).map(_ => Seq.fill(2 + r.nextInt(2))(syll(r.nextInt(syll.size))).mkString)
        .distinct
    }
    private def word(): String =
      if (rnd.nextDouble() < 0.25) stop(rnd.nextInt(stop.size)) else words(rnd.nextInt(words.size))
    private def line(): String = Seq.fill(8 + rnd.nextInt(8))(word()).mkString(" ") + "."

    def page(): String = {
      val u = rnd.nextDouble()
      val nLines = if (u < 0.08) 2 else 6 + rnd.nextInt(6)
      val body = Seq.fill(nLines)(line()).mkString("\n")
      if (u > 0.95) body + "\nvar x = {a: 1}" else body
    }

    /** A near-duplicate of `text`: `edits` words replaced at random
      * positions (a 3-shingle Jaccard distance of roughly 0.1). */
    def nearCopy(text: String, edits: Int): String = {
      val lines = text.split("\n").map(_.split(" "))
      (0 until edits).foreach { _ =>
        val l = lines(rnd.nextInt(lines.length))
        val i = rnd.nextInt(math.max(1, l.length - 1))
        l(i) = words(rnd.nextInt(words.size)) + "x"
      }
      lines.map(_.mkString(" ")).mkString("\n")
    }

    /** One chunk of `n` documents with ids from `firstId`: a share
      * `exactShare` are verbatim copies and `nearShare` near copies of
      * the chunk's originals. Returns the docs, the number of exact
      * copies, and the planted (original, near copy) id pairs. */
    def chunk(firstId: Long, n: Int, exactShare: Double, nearShare: Double)
        : (IndexedSeq[(Long, String)], Int, Seq[(Long, Long)]) = {
      val nExact = (n * exactShare).round.toInt
      val nNear = (n * nearShare).round.toInt
      val nOrig = n - nExact - nNear
      val orig = (0 until nOrig).map(i => (firstId + i, page()))
      // near copies come from full pages only (a 2-line page has too few
      // shingles for a stated recall), and from distinct originals
      val full = rnd.shuffle(orig.filter(_._2.count(_ == '\n') >= 5))
      require(full.size >= nNear, "not enough full pages to plant near copies")
      val near = full.take(nNear).zipWithIndex.map { case ((id, t), i) =>
        (id, (firstId + nOrig + i, nearCopy(t, 2)))
      }
      val exact = (0 until nExact).map { i =>
        (firstId + nOrig + nNear + i, orig(rnd.nextInt(nOrig))._2)
      }
      val docs = rnd.shuffle(orig ++ near.map(_._2) ++ exact)
      (docs, nExact, near.map { case (o, (c, _)) => (o, c) })
    }
  }
}
