package perfbench

import scala.collection.mutable

import graft.index.Ivf

/** `serve`: point k-NN probes against a persisted IVF layout — the read
  * path alone (index probe, snapshot pin, Spark's fixed per-query
  * cost), with no deltas, no streaming and no store writes. */
object Serve {
  val N = 10000
  val Dim = 64
  val Centers = 64
  val Sigma = 0.6
  val NList = 32
  val NProbe = 4
  val K = 10
  val MaxIter = 5
  val SetupReps = 3
  val SpotChecks = 3

  def run(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val gen = new Gen.Clusters(r.seed, Dim, Centers, Sigma)
    val tg = System.nanoTime()
    val corpus = (0 until N).map(i => (i.toLong, gen.next()))
    val corpusDir = r.dir("corpus")
    corpus.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.parquet(corpusDir)
    r.out("gen_ms") = (System.nanoTime() - tg) / 1e6
    r.out("inputs") = Map("vectors" -> N, "dim" -> Dim, "true_clusters" -> Centers,
      "sigma" -> Sigma, "nlist" -> NList, "nprobe" -> NProbe, "k" -> K)

    val df = spark.read.parquet(corpusDir)
    var layout: Ivf.Layout = null
    r.out("setup_ms") = r.setupMs("index.build", SetupReps) { i =>
      layout = Ivf.buildLayout(spark, df, r.dir(s"layout_$i"), NList, maxIter = MaxIter)
    }

    // warm the probe path (JIT, codegen caches) before timing it
    (0 until 3).foreach(_ => Ivf.searchLayout(spark, layout, gen.next(), K, NProbe).collect())

    r.startClock()
    val probes = mutable.ArrayBuffer.empty[(Array[Float], Seq[Long])]
    while (r.timeLeft) {
      val q = gen.next()
      r.attempted += 1
      try {
        val rows = r.op("probe") { _ =>
          val plan = r.tracer("index.searchLayout")(Ivf.searchLayout(spark, layout, q, K, NProbe))
          r.tracer("spark.collect")(plan.collect())
        }
        if (rows.length != K) r.fail(s"probe returned ${rows.length} rows, expected $K")
        probes += ((q, rows.map(_.getLong(0)).toSeq))
      } catch { case e: Exception => r.fail(s"probe failed: $e") }
    }

    // recall@K against brute force, outside the timed region
    val recalls = probes.map { case (q, got) =>
      val truth = Gen.topK(corpus, q, K).map(_._1).toSet
      got.count(truth).toDouble / K
    }
    r.out("recall") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    r.out("probes") = probes.size

    // exactness: probing every list must equal brute force, ids and distances
    (0 until SpotChecks).foreach { _ =>
      val q = gen.next()
      r.attempted += 1
      val got = Ivf.searchLayout(spark, layout, q, K, NList).collect()
        .map(row => (row.getLong(0), row.getDouble(1))).toSeq
      val want = Gen.topK(corpus, q, K)
      if (got != want) r.fail(s"full probe differs from brute force: got $got want $want")
    }
    val layoutBytes = Fs.du(new java.io.File(layout.dir))
    r.out("layout_bytes") = layoutBytes
    r.out("space_amp") = layoutBytes.toDouble / (N.toLong * (8 + 4 * Dim))
  }

}
