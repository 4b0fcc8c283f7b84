package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture readers, planted fixture rows, scratch directories and
  * the process-level artifact caches shared by the declared
  * queries. */
object Fixtures {
  import OracleSql._

  /** Embedding dimensionality of the driver fixtures
    * (embeddings.parquet, FIXTURES.md §B1). */
  val EmbDim = 64

  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** HNSW build params for the declared queries: `parts` DERIVED from
    * the corpus row count ([[graft.index.Hnsw.autoParts]]) instead of
    * hardcoded, so a 100× corpus automatically gets smaller shards
    * that stay under the scan split size (the probe-time part-count
    * check would otherwise fail loudly). The count is a parquet
    * metadata-only job. At the driver fixtures' sizes autoParts floors
    * at 4 — the engine's historical value, so layouts and hashes are
    * unchanged. */
  private[queries] def hnswParams(e: DataFrame): graft.index.Hnsw.Params =
    graft.index.Hnsw.Params(m = 8, efConstruction = 64,
      parts = graft.index.Hnsw.autoParts(e.count(), EmbDim, m = 8))

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Spread a tiny-split corpus across the cores before a heavy
    * narrow per-row kernel (tokenizer/classifier passes): the fixture
    * files arrive as one scan split, so the kernel otherwise runs
    * single-task — and, feeding a global sort directly, runs TWICE
    * (range-bound sampling re-executes an unmaterialized child). The
    * explicit count keeps AQE from coalescing the small-bytes/heavy-CPU
    * shuffle back to one partition; at scale inputs arrive pre-split
    * and the hash exchange just becomes the sort barrier. */
  private[queries] def parDocs(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** Fixture rows for the byte-level tokenizer queries: punctuation,
    * case, accents, typographic dashes/quotes, currency, CJK, emoji —
    * everything the char-level normalized-alphanumeric path drops.
    * Shared verbatim with the oracle via [[extDocsSqlCte]]. (No
    * U+000B: the one byte where Java's and RE2's `\s` differ.) */
  private[queries] val ExtDocRows: Seq[(Long, String)] = Seq(
    9000001L -> "Héllo, Wörld! It's naïve — café résumé.",
    9000002L -> "Price: $42.50 (≈ €39) — 50% off!! #deal @shop",
    9000003L -> "你好 world 🌍 ünïcödé; quotes: \"double\" 'single'",
    // a >24-symbol pretoken (35 bytes incl. the space marker): proves
    // the DERIVED ranked-apply iteration bound converges words a fixed
    // 24-iteration bound could silently under-merge
    9000004L -> "Long: supercalifragilisticexpialidocious 123456789012345678901234567890 end.")

  /** The documents table extended with [[ExtDocRows]] — the corpus the
    * byte-level queries run on. */
  private[queries] def extDocs(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    docs(s, dir).select(col("doc_id"), col("text"))
      .unionAll(ExtDocRows.toDF("doc_id", "text"))
  }

  /** SQL twin of [[extDocs]]. */
  private[queries] def extDocsSqlCte: String =
    "SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES " +
      ExtDocRows.map { case (id, t) =>
        s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
      }.mkString(",") + ") AS v(doc_id, text)"

  /** Some fixture generations store `ts` as parquet TIMESTAMP(NANOS)
    * (which Spark 4 refuses by default — the nanosAsLong shim reads it
    * as a long), others as plain TIMESTAMP(MICROS) (which arrives as
    * TIMESTAMP_NTZ). Normalize either to a session-tz TIMESTAMP so
    * every downstream query sees one type. DuckDB reads both as the
    * same naive µs timestamp (ns truncate ≡ the integer division). */
  private[queries] def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    fixEventTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** ts normalization (ns-long → µs timestamp; NTZ → session-tz
    * timestamp, an identity instant under the pinned UTC session),
    * shared by the batch reader, the streaming replay, and ScaleProbe
    * so the conversion can never diverge. */
  private[graft] def fixEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** TPC-H-style star-schema table (ms timestamps — no nanos shim
    * needed, unlike `events`). */
  private[queries] def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Planted-PII suffix for doc_pii_scrub — shared by the Spark query
    * and the oracle SQL so the fixture cannot drift. */
  private[queries] val PiiSuffix = " contact bob.smith+spam@example-corp.io or 555-867-5309 now"

  /** Planted boilerplate for dedup_chunks: EXACTLY 25 tokens — one full
    * chunk at chunkTokens=25 — prepended to every doc_id%5==0 row, so
    * all planted docs share chunk 0 verbatim and chunk dedup must strip
    * it everywhere but the first occurrence. Shared with the oracle SQL
    * so the fixture cannot drift. */
  private[queries] val ChunkBoilerplate =
    "terms of service this content is provided as is without warranty " +
      "of any kind either express or implied including but not limited " +
      "to the implied"

  /** Deterministic synthetic media corpus: 200 REAL minimal files built
    * by [[graft.multimodal.MediaCodecs]] — JPEG and PNG stills
    * (alternating), PCM WAV audio, and MJPEG multi-frame video, with
    * dimensions / channel counts / frame counts derived from the row id.
    * The decode side re-extracts those values by parsing the actual
    * container headers (SOF0 / IHDR+CRC / RIFF chunks / marker walk),
    * and the `media_decode_stats` oracle recomputes the expected
    * values from the same id arithmetic — so the oracle check proves
    * the header WRITER and PARSER agree through real byte formats (an
    * endianness or offset bug on either side breaks the hash match). */
  private[queries] def mediaFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    val meta = """{"src":"synthetic"}"""
    s.range(200).map { id =>
      val w = 64 + (id * 13 % 960).toInt
      val h = 64 + (id * 7 % 540).toInt
      (id % 3) match {
        case 0 =>
          val bytes = if ((id / 3) % 2 == 0) MediaCodecs.jpegBytes(w, h)
                      else MediaCodecs.pngBytes(w, h)
          Multimodal.MediaRecord(id, "image", bytes, meta)
        case 1 =>
          val channels = 1 + (id % 2).toInt
          val audioFrames = 100 + (id % 400).toInt
          Multimodal.MediaRecord(id, "audio",
            MediaCodecs.wavBytes(channels, 8000, 16, audioFrames), meta)
        case _ =>
          val videoFrames = 1 + (id % 5).toInt
          Multimodal.MediaRecord(id, "video",
            MediaCodecs.mjpegBytes(w, h, videoFrames), meta)
      }
    }
  }

  /** Deterministic media-features corpus: 100 REAL P6 rasters with
    * id-parameterized arithmetic pixels — ids 80–99 near-duplicate ids
    * 0–19 (same raster with a +1 red bump, the visual-near-dup plant) —
    * and 100 REAL mono 16-bit PCM WAVs with id-parameterized sample
    * values. [[graft.multimodal.Multimodal.extractFeatures]] does actual
    * pixel / PCM arithmetic on these bytes, and the oracle SQL replays
    * the identical integer arithmetic from the id formulas, so the
    * feature path (build → container parse → subsample / frame stats)
    * is hash-pinned end to end. */
  private[queries] def mediaFeatFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(200).map { id =>
      if (id < 100) {
        val base = (if (id < 80) id.toLong else id - 80).toInt
        val bump = if (id < 80) 0 else 1
        val w = 8 + base % 23
        val h = 8 + base % 19
        val a = 5 + base % 11
        val bmul = 7 + base % 13
        Multimodal.MediaRecord(id, "image",
          MediaCodecs.ppmBytes(w, h, (x, y) =>
            ((a * x + bmul * y + 3 * base) % 251 + bump,
             (bmul * x + a * y + 5 * base) % 241,
             ((a + bmul) * x + 2 * base) % 239)),
          """{"fmt":"ppm"}""")
      } else {
        val n = 120 + (id % 80).toInt
        val samples = Array.tabulate(n)(i => (((i * 37L + id * 101L) % 4001L) - 2000L).toShort)
        Multimodal.MediaRecord(id, "audio",
          MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
      }
    }
  }

  /** Deterministic audio-fingerprint corpus: 100 REAL mono 16-bit PCM
    * WAVs with id-parameterized sample values — ids 80–99 are ids 0–19
    * at DOUBLE volume (every sample ×2; |s| ≤ 1500 so 16-bit never
    * clips), the loudness-normalized-duplicate plant. The oracle
    * replays the identical integer sample/energy arithmetic from the
    * id formulas. */
  private[queries] def audioFpFixture(s: SparkSession): org.apache.spark.sql.Dataset[graft.multimodal.Multimodal.MediaRecord] = {
    import s.implicits._
    import graft.multimodal.{MediaCodecs, Multimodal}
    s.range(100).map { id =>
      val base = (id % 80L).toInt // ids 80–99 clone ids 0–19
      val vol = if (id < 80) 1 else 2
      val n = 150 + base % 60
      val samples = Array.tabulate(n)(j =>
        (vol * (((j * 37L + base * 101L) % 3001L) - 1500L)).toShort)
      Multimodal.MediaRecord(id, "audio",
        MediaCodecs.wavPcmBytes(8000, samples), """{"fmt":"wav"}""")
    }
  }

  /** Per-tag scratch directories for queries that must materialize
    * through disk (streaming sinks, envelope files). Each new request
    * for a tag deletes that tag's PREVIOUS directory — safe because by
    * then its contents have been fully consumed (Verify writes the
    * returned DataFrame to parquet and Bench noop-saves it before the
    * query is ever re-invoked) — and a JVM shutdown hook removes
    * whatever is left, so repeated bench warm runs cannot accumulate
    * corpus-sized temp trees. Concurrent use of the SAME tag is the
    * caller's race, not supported; distinct tags never interact. */
  private[queries] val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private[queries] val scratchCleanupHook =
    sys.addShutdownHook(scratchDirs.values.forEach(graft.io.MutableStore.deleteDir(_)))

  /** Copy a build-once artifact directory into a per-run scratch copy
    * (for queries that MUTATE their store — the streaming incremental
    * legs append to it, so each run works on its own copy while the
    * tmpdir original stays the pristine seed). */
  private[queries] def copyRecursively(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val target = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.copy(p, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    finally walk.close()
  }

  /** Stable per-dataset key for artifacts shared across processes in
    * java.io.tmpdir: md5 of the FULL dir path — String.hashCode can
    * collide across dataset dirs, silently churning (or cross-reading)
    * a store built for different data. Build races between processes
    * are serialized by [[graft.io.Artifact.ensure]]'s dir lock. */
  private[queries] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** A SQL string literal with quotes escaped — every inline
    * VALUES/IN list built from fixture terms goes through this, so a
    * term carrying a single quote can neither break the statement nor
    * inject into it. */
  private[queries] def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private[queries] def scratchDir(tag: String): String = {
    val fresh = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    val prev = scratchDirs.put(tag, fresh)
    if (prev != null) graft.io.MutableStore.deleteDir(prev)
    fresh.toString
  }

  /** Runs a bounded streaming query (Trigger.AvailableNow) into a
    * scratch PARQUET sink via foreachBatch and hands back the sink read
    * as a DataFrame — the scale-safe declared-query shape: results flow
    * executor→disk→executor and never materialize on the driver (the
    * earlier memory-sink + collect() form put the whole streaming
    * result in driver memory, a scale-killer for unbounded results).
    * `overwrite = true` is the complete-mode shape (each micro-batch
    * rewrites the full result, the final batch wins); `false` appends
    * each batch's newly-emitted rows.
    *
    * Stateful operators (stream-stream joins, dedup, sessions) pay a
    * fixed state-store cost PER SHUFFLE PARTITION per micro-batch
    * (open/commit/checkpoint of each store); at local volumes that
    * fixed cost dominates — the sf0.1 stream-stream join measured
    * 8.0 s at 32 state partitions vs 2.8 s at 8 with identical output.
    * So the streaming run sizes `spark.sql.shuffle.partitions` to
    * `statePartitions` (the charter's "size shuffle partitions to the
    * data" lever — a real deployment raises it with state volume) and
    * restores the session value afterwards; the streaming query
    * captures the conf at start, so later batch queries are planned
    * under the restored value. */
  private[queries] def runStreamToParquet(s: SparkSession, result: DataFrame,
      outputMode: String, overwrite: Boolean, tag: String,
      statePartitions: Int = 8): DataFrame = {
    val scratch = scratchDir(tag)
    val sinkDir = s"$scratch/sink"
    val saveMode = if (overwrite) "overwrite" else "append"
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = result.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", s"$scratch/chk")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode(saveMode).parquet(sinkDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // measured state bound: peak rows-in-state across micro-batches
      // (summed over a query's stateful operators). The bench emits
      // these per round so the claimed watermark bounds are observed
      // numbers, not a one-time spec assertion — unbounded state growth
      // would show up here long before it OOMs a 100 TB deployment.
      streamStateRows.put(tag, peakStateRows(q))
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    s.read.parquet(sinkDir)
  }

  /** Peak state-store rows per streaming query tag, recorded by
    * [[runStreamToParquet]] on every completed run — surfaced in the
    * bench detail (`stream_state`). */
  val streamStateRows =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Peak rows-in-state of a finished streaming query: the max over its
    * micro-batches of the rows summed over its stateful operators. */
  private[queries] def peakStateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.iterator
      .map(p => p.stateOperators.map(_.numRowsTotal).sum)
      .foldLeft(0L)(math.max)

  /** Process-level PQ codebook memo: the driver-side Lloyd's fit runs
    * once per scale factor. Only the session-free Codebooks are cached —
    * a cached DataFrame would stay bound to whichever SparkSession built
    * it and break in a later session of the same JVM; the lazy encode
    * plan is rebuilt per call (it costs nothing until executed). */
  private[queries] val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Pq.Codebooks]()

  private[queries] def pqIndex(dir: String, corpus: DataFrame): (graft.index.Pq.Codebooks, DataFrame) = {
    val cb = pqCache.computeIfAbsent(dir,
      _ => graft.index.Pq.fit(corpus, m = 8, k = 64, maxSample = 8192))
    (cb, graft.index.Pq.encode(corpus, cb))
  }

  /** OPQ sibling of [[pqIndex]]: same memo discipline (session-free
    * model cached, lazy encode rebuilt per call). */
  private[queries] val opqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Pq.OpqModel]()

  /** Memoized ANN-selector frontier per sf-dir: the seeded LSH/IVF fits
    * and the MEASURED recall/cost frontier are session-free; the
    * assignment plans rebuild lazily per call ([[graft.index.AnnSelector.fromParts]]). */
  private[queries] val selectorCache = new java.util.concurrent.ConcurrentHashMap[String,
    (org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel,
      graft.index.Ivf.Index, Seq[graft.index.AnnSelector.Point])]()

  /** Memoized nprobe recall curve per sf-dir (seeded + deterministic —
    * a BUILD step like the selector frontier). */
  private[queries] val curveCache = new java.util.concurrent.ConcurrentHashMap[String,
    Seq[graft.index.Recall.CurvePoint]]()

  private[queries] def opqIndex(dir: String, corpus: DataFrame): (graft.index.Pq.OpqModel, DataFrame) = {
    val model = opqCache.computeIfAbsent(dir,
      _ => graft.index.Pq.fitOpq(corpus, m = 8, k = 64, maxSample = 8192))
    (model, graft.index.Pq.encodeOpq(corpus, model))
  }

  /** SQ8 sibling of [[pqIndex]]: same memo discipline. The fit is one
    * exact distributed min/max aggregation — no sample, no seed. */
  private[queries] val sqCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.index.Sq.SqModel]()

  private[queries] def sqIndex(dir: String, corpus: DataFrame): (graft.index.Sq.SqModel, DataFrame) = {
    val model = sqCache.computeIfAbsent(dir, _ => graft.index.Sq.fit(corpus))
    (model, graft.index.Sq.encode(corpus, model))
  }

  /** IVF-SQ8 sibling of [[ivfPqIndex]]: same memo discipline, the SQ8
    * model reused from [[sqIndex]]'s cache. */
  private[queries] val ivfSqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.index.Ivf.Index, graft.index.Sq.SqModel, String)]()

  private[queries] def ivfSqIndex(dir: String, corpus: DataFrame): (graft.index.Ivf.Index, graft.index.Sq.SqModel, String) =
    ivfSqCache.computeIfAbsent(dir, { _ =>
      val ivf = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val (model, _) = sqIndex(dir, corpus)
      val codesDir = ivfLayoutDir(dir, "ivfsq")
      graft.index.Sq.writeIvfSqCodes(ivf, model, corpus, codesDir)
      (ivf, model, codesDir)
    })

  /** Memoized IVF-PQ composition per sf-dir: the coarse quantizer, the
    * codebooks, and the cluster-partitioned code layout are built once
    * per process (the seeded fits make rebuilds identical), so warm
    * bench runs and repeated queries measure the probe, not the build —
    * same discipline as [[pqIndex]] and the persisted IVF layouts. */
  private[queries] val ivfPqCache =
    new java.util.concurrent.ConcurrentHashMap[String, (graft.index.Ivf.Index, graft.index.Pq.Codebooks, String)]()

  private[queries] def ivfPqIndex(dir: String, corpus: DataFrame): (graft.index.Ivf.Index, graft.index.Pq.Codebooks, String) =
    ivfPqCache.computeIfAbsent(dir, { _ =>
      val ivf = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val (cb, _) = pqIndex(dir, corpus)
      val codesDir = ivfLayoutDir(dir, "ivfpq")
      graft.index.Pq.writeIvfPqCodes(ivf, cb, corpus, codesDir)
      (ivf, cb, codesDir)
    })

  /** Deterministic per-(sf-dir, variant) location for the persisted IVF
    * layout: build-once, probe-many — bench iterations and verify reruns
    * reuse the files (the seeded quantizer makes rebuilds identical). */
  private[queries] def ivfLayoutDir(sfDir: String, variant: String): String = {
    val key = java.lang.Integer.toHexString(sfDir.hashCode)
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_${variant}_$key"
  }

  /** Recursive file copy (test/bench plumbing for the append query: the
    * cached base layout stays pristine; each invocation appends into a
    * throwaway copy). */
  private[queries] def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val d = java.nio.file.Paths.get(dst)
    // Files.walk holds open directory handles until closed — leaking one
    // per bench iteration would eventually exhaust the fd limit
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Write a CDC replay's micro-batch input files in ONE overlapped
    * pass instead of N serial single-file write jobs: each batch writes
    * concurrently into its own staging dir (independent jobs — the
    * guide's job-overlap device), then the single part files are moved
    * into `inDir` under ascending names (`b00.parquet`, `b01…`) with
    * strictly ascending modification times (2 s apart), so the file
    * stream source's batch ORDER — the CDC semantics — is preserved
    * whichever of (modTime, path) it sorts by. */
  private[queries] def writeBatchInputs(inDir: String, batches: Seq[DataFrame]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val stage = s"${inDir}_stage"
    val futs = batches.zipWithIndex.map { case (df, i) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$stage/$i"))
    }
    futs.foreach(Await.result(_, Duration.Inf))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val t0 = System.currentTimeMillis() - 2000L * (batches.size + 1)
    batches.indices.foreach { i =>
      val part = new java.io.File(s"$stage/$i").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"no part file staged for batch $i under $stage"))
      val dst = java.nio.file.Paths.get(inDir, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L * i))
    }
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(stage))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  /** Delete-then-recreate a process-stable scratch dir: repeated
    * invocations (bench iterations) reuse ONE corpus-sized working copy
    * instead of accumulating temp dirs until /tmp fills. The pid in the
    * key keeps concurrent processes (a Verify overlapping a Bench on the
    * same fixtures) from deleting each other's live scratch. */
  private[queries] def freshScratchDir(sfDir: String, variant: String): String = {
    val dir = java.nio.file.Paths.get(
      ivfLayoutDir(sfDir, s"${variant}_p${ProcessHandle.current().pid()}"))
    if (java.nio.file.Files.exists(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(dir)
    dir.toString
  }
}
