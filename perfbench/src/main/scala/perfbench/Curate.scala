package perfbench

import scala.collection.mutable

import graft.dedup.Dedup
import graft.text.{TextAnalysis, WordPiece}

/** `curate`: a batch LLM-data pipeline over chunks of seeded synthetic
  * documents with planted exact and near duplicates: exact dedup, then
  * MinHash near-dup pairs, then Gopher stats plus the C4 filter, then a
  * WordPiece tokenizer pass. Every stage reads the previous stage's
  * parquet and writes its own, so each stage is timed from outside. The
  * store, index and streaming layers are never touched. */
object Curate {
  val ChunkDocs = 600
  val ExactShare = 0.10
  val NearShare = 0.10
  val MinNearRecall = 0.9
  val SetupReps = 3
  val WarmChunks = 2

  def run(r: Run): Unit = {
    import r.spark.implicits._
    val spark = r.spark
    val docs = new Gen.Docs(r.seed)
    r.out("inputs") = Map("chunk_docs" -> ChunkDocs, "exact_share" -> ExactShare,
      "near_share" -> NearShare, "near_edits" -> 2, "min_near_recall" -> MinNearRecall)

    var vocab: Seq[(String, Int)] = Nil
    r.out("setup_ms") = r.setupMs("text.loadVocab", SetupReps) { _ =>
      vocab = WordPiece.externalFixtureVocab()
    }

    var genNs = 0L
    var docsDone = 0L
    var planted = 0L
    var found = 0L
    val stageMs = mutable.ArrayBuffer.empty[Seq[Double]]
    var pairsOut = 0L
    var inBytes = 0L
    var outBytes = 0L
    var chunkNo = 0
    // the first chunks warm the JIT and codegen caches and are not timed
    // (chunk latency settles by the third chunk)
    while (chunkNo < WarmChunks || r.timeLeft) {
      val warm = chunkNo < WarmChunks
      if (chunkNo == WarmChunks) r.startClock()
      val tg = System.nanoTime()
      val (chunk, nExact, pairs) = docs.chunk(chunkNo.toLong * 1000000L, ChunkDocs,
        ExactShare, NearShare)
      val in = r.dir(s"c$chunkNo/in")
      chunk.toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
        .write.parquet(in)
      genNs += System.nanoTime() - tg
      def out(s: String) = r.dir(s"c$chunkNo/$s")
      r.attempted += 1
      try {
        val times = mutable.ArrayBuffer.empty[Double]
        def stage(name: String)(body: => Unit): Unit = {
          val t = System.nanoTime()
          r.tracer(name)(body)
          times += (System.nanoTime() - t) / 1e6
        }
        def pass(): Unit = {
          stage("dedup.exact") {
            r.tracer("spark.write")(Dedup.dedupExact(spark.read.parquet(in))
              .write.parquet(out("exact")))
          }
          stage("dedup.minhash") {
            r.tracer("spark.write")(Dedup.minHashNearDups(spark.read.parquet(out("exact")))
              .write.parquet(out("pairs")))
          }
          stage("text.quality") {
            val kept = spark.read.parquet(out("exact"))
            val gopher = TextAnalysis.gopherStats(kept)
            val c4 = TextAnalysis.c4Filter(kept).select("doc_id", "n_sentences", "passes_c4")
            r.tracer("spark.write")(gopher.join(c4, "doc_id").write.parquet(out("quality")))
          }
          stage("text.tokenize") {
            r.tracer("spark.write")(WordPiece.tokenIdsExternal(spark.read.parquet(out("exact")), vocab)
              .write.parquet(out("tokens")))
          }
        }
        if (warm) pass() else r.op("chunk")(_ => pass())

        // correctness, outside the timed region
        val kept = spark.read.parquet(out("exact")).count()
        if (kept != ChunkDocs - nExact)
          r.fail(s"exact dedup kept $kept docs, expected ${ChunkDocs - nExact}")
        val got = spark.read.parquet(out("pairs")).select("id_a", "id_b").as[(Long, Long)]
          .collect().toSet
        val hit = pairs.count(got)
        if (hit < MinNearRecall * pairs.size)
          r.fail(s"near-dup recall ${hit.toDouble / pairs.size} below $MinNearRecall")
        val quality = spark.read.parquet(out("quality")).count()
        val tokens = spark.read.parquet(out("tokens")).count()
        if (quality != kept || tokens != kept)
          r.fail(s"quality rows $quality and token rows $tokens differ from $kept kept docs")
        if (!warm) {
          stageMs += times.toSeq
          docsDone += ChunkDocs
          planted += pairs.size
          found += hit
          pairsOut += got.size
          inBytes += Fs.du(new java.io.File(in))
          outBytes += Seq("exact", "pairs", "quality", "tokens")
            .map(d => Fs.du(new java.io.File(out(d)))).sum
        }
      } catch { case e: Exception => r.fail(s"chunk failed: $e") }
      chunkNo += 1
    }
    r.out("gen_ms") = genNs / 1e6
    r.out("docs") = docsDone
    r.out("stage_ms") = stageMs
    r.out("recall") = if (planted == 0) 0.0 else found.toDouble / planted
    r.out("pairs_out") = pairsOut
    r.out("space_amp") = if (inBytes == 0) 0.0 else outBytes.toDouble / inBytes
  }
}
