package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.index.Ivf
import graft.perfbench.StoreView
import graft.streaming.StreamingIngest

/** `cdc`: writes beside reads. Each round lands CDC micro-batch files
  * (adds, deletes of live ids, same-batch add+delete pairs), drains them
  * through the streaming IVF mutation sink, checks the layout against a
  * model of the live rows, then probes the grown layout delta-aware. */
object Cdc {
  val N0 = 5000
  val Dim = 64
  val Centers = 32
  val Sigma = 0.5
  val NList = 16
  val NProbe = 2
  val K = 10
  val MaxIter = 5
  val SetupReps = 3
  val Adds = 200
  val Dels = 40
  val Pairs = 10
  val MaxDeltaDirs = 1
  val ProbesPerRound = 4
  val RowBytes = 8 + 4 * Dim

  def run(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val vecs = new Gen.Clusters(r.seed, Dim, Centers, Sigma)
    val queries = vecs.fork(r.seed + 2)
    val tg = System.nanoTime()
    val model = mutable.LinkedHashMap.empty[Long, Array[Float]]
    (0 until N0).foreach(i => model.put(i.toLong, vecs.next()))
    val corpusDir = r.dir("corpus")
    model.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.parquet(corpusDir)
    var genNs = System.nanoTime() - tg
    r.out("inputs") = Map("base_vectors" -> N0, "dim" -> Dim, "true_clusters" -> Centers,
      "sigma" -> Sigma, "nlist" -> NList, "nprobe" -> NProbe, "k" -> K,
      "adds" -> Adds, "dels" -> Dels,
      "pairs" -> Pairs, "max_delta_dirs" -> MaxDeltaDirs, "probes_per_round" -> ProbesPerRound)

    val df = spark.read.parquet(corpusDir)
    var layout: Ivf.Layout = null
    r.out("setup_ms") = r.setupMs("index.build", SetupReps) { i =>
      layout = Ivf.buildLayout(spark, df, r.dir(s"layout_$i"), NList, maxIter = MaxIter)
    }
    (0 until 3).foreach(_ => Ivf.searchLayout(spark, layout, queries.next(), K, NProbe).collect())

    val cdc = new Gen.CdcStream(r.seed + 1, vecs, N0.toLong + 1000000L, model)
    val inDir = r.dir("cdc_in")
    val stageDir = r.dir("cdc_stage")
    val chk = r.dir("cdc_chk")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val schema = Seq(("add", 0L, Seq(0f))).toDF("op", "vec_id", "embedding").schema
    val mtime0 = System.currentTimeMillis() - 86400000L
    var fileNo = 0
    var rowsCommitted = 0L
    var drainMs = 0.0
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** [drain wall ms, sum of its triggers' ms] per timed drain */
    val drains = mutable.ArrayBuffer.empty[Seq[Double]]
    val probeLegs = mutable.ArrayBuffer.empty[(Int, Int)]
    val recalls = mutable.ArrayBuffer.empty[Double]

    /** Lands one batch as a single parquet file with a later mtime than
      * every earlier file, so the file source takes them in order. */
    def land(b: Gen.CdcBatch): Unit = {
      b.rows.map { case (o, id, v) => (o, id, v.toSeq) }.toDF("op", "vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(s"$stageDir/$fileNo")
      val part = new java.io.File(s"$stageDir/$fileNo").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(inDir, f"b$fileNo%05d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime0 + 1000L * fileNo))
      fileNo += 1
    }

    /** Every live row, compared with the model: no lost or resurrected
      * id, and each distance computed from the model's vector. */
    def checkAll(): Unit = {
      r.attempted += 1
      val q = queries.next()
      val got = Ivf.searchLayoutDeltaAware(spark, layout, q, model.size + 10, NList)
        .collect().map(row => (row.getLong(0), row.getDouble(1)))
      val lost = model.keySet -- got.map(_._1)
      val extra = got.map(_._1).filterNot(model.contains)
      val wrong = got.count { case (id, d) => model.get(id).exists(v => Gen.l2Sq(v, q) != d) }
      if (lost.nonEmpty || extra.nonEmpty || wrong > 0 || got.length != model.size)
        r.fail(s"layout differs from model: ${lost.size} lost, ${extra.length} resurrected, " +
          s"$wrong wrong distances, ${got.length} rows for ${model.size} live ids")
    }

    /** One round: land a batch, drain it, check the layout against the
      * model, probe. The first round only warms the streaming path: it
      * is checked but not timed, and does not probe. */
    def round(timed: Boolean): Unit = {
      val tgen = System.nanoTime()
      val b = cdc.next(Adds, Dels, Pairs)
      land(b)
      genNs += System.nanoTime() - tgen
      r.attempted += 1
      try {
        def drain() = {
          val stream: DataFrame = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
          val q = r.tracer("streaming.drain") {
            val q = StreamingIngest.streamingIvfMutations(stream, layout.dir, chk,
              maxDeltaDirs = MaxDeltaDirs)
            q.awaitTermination()
            q
          }
          q.exception.foreach(e => throw e)
          q.recentProgress.filter(_.numInputRows > 0)
        }
        val t = System.nanoTime()
        val progress = if (timed) r.op("drain")(_ => drain()) else drain()
        val wallMs = (System.nanoTime() - t) / 1e6
        if (progress.map(_.numInputRows).sum != b.size)
          r.fail(s"drain read ${progress.map(_.numInputRows).sum} rows, landed ${b.size}")
        if (timed) {
          drainMs += wallMs
          rowsCommitted += b.size
          def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
            Option(p.durationMs.get(k)).fold(0L)(_.longValue)
          progress.foreach { p =>
            batches += Map("batch" -> p.batchId, "trigger_ms" -> ms(p, "triggerExecution"),
              "add_ms" -> ms(p, "addBatch"), "planning_ms" -> ms(p, "queryPlanning"),
              "rows" -> p.numInputRows)
          }
          drains += Seq(wallMs, progress.map(ms(_, "triggerExecution")).sum.toDouble)
        }
      } catch { case e: Exception => r.fail(s"drain failed: $e") }
      checkAll()

      if (timed) {
        val legs = (Ivf.deltaDirCount(layout), StoreView.liveTombLegs(layout.dir))
        (0 until ProbesPerRound).foreach { _ =>
          val q = queries.next()
          r.attempted += 1
          try {
            val got = r.op("probe") { _ =>
              val plan = r.tracer("index.searchLayoutDeltaAware")(
                Ivf.searchLayoutDeltaAware(spark, layout, q, K, NProbe))
              r.tracer("spark.collect")(plan.collect())
            }
            probeLegs += legs
            val truth = Gen.topK(model, q, K).map(_._1).toSet
            recalls += got.count(row => truth(row.getLong(0))).toDouble / K
          } catch { case e: Exception => r.fail(s"probe failed: $e") }
        }
      }
    }

    round(timed = false)
    val v0 = StoreView.version(layout.dir)
    r.startClock()
    var rounds = 0
    while (r.timeLeft) {
      round(timed = true)
      rounds += 1
    }

    val layoutBytes = Fs.du(new java.io.File(layout.dir))
    r.out("gen_ms") = genNs / 1e6
    r.out("rounds") = rounds
    r.out("drains") = drains
    r.out("batches") = batches
    r.out("rows_committed") = rowsCommitted
    r.out("drain_ms") = drainMs
    r.out("recall") = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    r.out("probe_legs") = probeLegs.map { case (d, t) => Seq(d, t) }
    r.out("compactions") = StoreView.version(layout.dir) - v0
    r.out("layout_bytes") = layoutBytes
    r.out("user_bytes") = rowsCommitted * RowBytes
    r.out("space_amp") = layoutBytes.toDouble / (model.size.toLong * RowBytes)
  }
}
