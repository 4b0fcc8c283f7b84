package graft.io

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

/** The fingerprint-sidecar "ensure" protocol shared by the
  * build-once/probe-many artifacts (IVF layouts, BM25 postings, dedup
  * stores, Z-order layouts, phrase sets): an artifact directory is
  * valid iff its sidecar file holds EXACTLY the expected fingerprint —
  * a JSON string over the input data's (count, content-hash) AND every
  * build parameter, so a re-invocation with different parameters (or
  * changed data) rebuilds instead of silently reusing a stale layout.
  * The sidecar is written LAST: a crashed build never looks complete.
  *
  * Builds run under a two-level lock: an intra-process monitor on the
  * interned canonical dir path (JVM file locks are per-process, and
  * overlapping locks within one JVM throw), plus an OS file lock on
  * the SIBLING `<dir>.graft_lock` — outside the artifact dir, because
  * builds that `mode("overwrite")` the dir itself would delete an
  * in-dir lock file out from under its own lock — so two PROCESSES
  * sharing the artifact dir (the bench and the correctness dump racing
  * on the same tmpdir store) serialize: the loser of the race blocks,
  * then sees the winner's sidecar and returns without rebuilding.
  * Probing a COMPLETE artifact takes no lock — reads only race against
  * a rebuild, and a rebuild only happens when data/params changed
  * under a live process, which the fresh-fingerprint check already
  * serializes. */
object Artifact {

  /** Shared content-hash aggregate for the fingerprint sidecars: row
    * count, bit_xor of the per-row hashes, and an order-independent
    * SUM of the hashes as decimal(38,0) — exact and overflow-free
    * under ANSI up to ~1e19 rows, so it wraps nothing in practice.
    * bit_xor alone is order-independent but cancels duplicate rows
    * (h ^ h = 0): two corpora of equal count differing only in WHICH
    * rows are duplicated could collide — a plausible input shape for a
    * dedup-oriented engine. The sum breaks the cancellation
    * (duplicates add, never cancel); all three ride one narrow scan. */
  def hashAgg(df: DataFrame, h: Column): (Long, Long, String) = {
    val row = df.select(h.as("_h"))
      .agg(count(lit(1)), expr("bit_xor(_h)"),
        sum(col("_h").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))))
      .head()
    (row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) "0" else row.getDecimal(2).toBigInteger.toString)
  }

  /** Build `fingerprint` string for `count`/`hash` plus build params —
    * one canonical shape so equality comparison is exact. */
  def fingerprintJson(count: Long, hash: Long, params: (String, String)*): String = {
    val ps = params.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    s"""{"count":$count,"hash":$hash${if (ps.isEmpty) "" else s",$ps"}}"""
  }

  /** ATOMIC file replace: write a sibling temp file, then
    * `ATOMIC_MOVE` it over the target. Every sidecar/commit write in
    * the artifact protocol routes here — a sidecar is either the old
    * complete json or the new complete json at every instant, never a
    * torn write (the commit-point guarantee the versioned compactions
    * rely on). */
  def writeAtomic(path: java.nio.file.Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Field-subset variant of [[ensure]] for artifacts whose sidecar
    * accretes EXTRA state over its lifetime (a compaction's version
    * pointer + folded-delta list): the artifact is up to date iff the
    * sidecar parses as json and every `expected` (key, raw-json-value)
    * pair matches — unknown extra fields are ignored, so a compacted
    * store still fingerprint-matches a fresh ensure over the same
    * (post-delete) corpus and is REUSED, not rebuilt. On build the
    * sidecar is written (atomically) with exactly the expected fields.
    * Raw values: numbers bare (`"123"`), strings quoted
    * ([[jsonStr]]). */
  def ensureJson(dir: String, sidecarName: String,
      expected: Seq[(String, String)])(build: => Unit): Boolean = {
    val dirPath = Paths.get(dir).toAbsolutePath.normalize
    Files.createDirectories(dirPath)
    val sidecar = dirPath.resolve(sidecarName)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def upToDate: Boolean = Files.exists(sidecar) && {
      try {
        val node = mapper.readTree(Files.readString(sidecar))
        expected.forall { case (k, raw) =>
          node.has(k) && node.get(k).toString == raw }
      } catch { case _: Throwable => false }
    }
    if (upToDate) return false
    dirPath.toString.intern.synchronized {
      val ch = FileChannel.open(
        dirPath.resolveSibling(dirPath.getFileName.toString + ".graft_lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        if (upToDate) false
        else {
          build
          writeAtomic(sidecar,
            expected.map { case (k, raw) => s""""$k":$raw""" }
              .mkString("{", ",", "}"))
          true
        }
      } finally {
        lock.release()
        ch.close()
      }
    }
  }

  /** Raw-json string value for [[ensureJson]] fields. */
  def jsonStr(s: String): String = "\"" + s + "\""

  /** Result of [[ensureBucketedTable]]: whether the data was
    * (re)written, plus the parsed sidecar (build-time stats like a
    * postings table's corpus counts ride here). */
  final case class BucketedEnsure(
      rebuilt: Boolean,
      sidecar: com.fasterxml.jackson.databind.JsonNode)

  /** The BUCKETED-TABLE variant of the ensure protocol — one shared
    * implementation of the three-tier sidecar dance that the BM25
    * postings, positional, and trigram indexes and the relational
    * bucketed layouts all perform ([[graft.text.InvertedIndex]],
    * [[graft.ops.Bucketed]]). Tiers, cheapest first:
    *
    *   1. table in this session's catalog AND sidecar present →
    *      reuse, zero data touched (stats come from the sidecar);
    *   2. sidecar fingerprint (count/hash/hsum/buckets/key) matches
    *      the input → metadata-only re-registration of an EXTERNAL
    *      bucketed table over the existing files;
    *   3. otherwise → `build()` the rows, pay the one bucketed+sorted
    *      write, record `extras` (build-time stats, raw JSON values)
    *      in the sidecar — written LAST, so a crashed build never
    *      looks complete.
    *
    * `fingerprint` is by-name: the catalog-hit tier never pays the
    * input scan. Builds run under the same two-level dir lock as
    * [[ensure]], so two processes sharing the artifact dir serialize
    * and the loser reuses the winner's table. */
  def ensureBucketedTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      dir: String,
      sidecarName: String,
      buckets: Int,
      key: String,
      ddl: String,
      fingerprint: => (Long, Long, String),
      build: () => (DataFrame, Seq[(String, String)])): BucketedEnsure = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val sidecar = Paths.get(dir, sidecarName)
    def readNode() = mapper.readTree(Files.readString(sidecar))
    if (spark.catalog.tableExists(table) && Files.exists(sidecar))
      return BucketedEnsure(rebuilt = false, readNode())
    val (nRows, dataHash, hashSum) = fingerprint
    def register(): Unit = {
      // a compacted store's base lives at the sidecar's version sibling
      // (`<dir>_v<N>`); an uncompacted one at the dir root
      val node = readNode()
      val v = if (node.hasNonNull("v")) node.get("v").asInt() else 0
      // ABSOLUTE location: the catalog qualifies a relative LOCATION
      // against the warehouse dir, while every sidecar/delta path in
      // this store resolves against the process cwd — a relative dir
      // would split the store across two trees
      val location = Paths.get(if (v > 0) s"${dir}_v$v" else dir)
        .toAbsolutePath.normalize
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(
        s"""CREATE TABLE $table ($ddl) USING PARQUET
           |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
           |LOCATION '$location'""".stripMargin)
    }
    def matches(node: com.fasterxml.jackson.databind.JsonNode): Boolean =
      node.get("count").asLong() == nRows &&
        node.get("hash").asLong() == dataHash &&
        node.hasNonNull("hsum") && node.get("hsum").asText() == hashSum &&
        node.get("buckets").asInt() == buckets &&
        node.hasNonNull("key") && node.get("key").asText() == key
    if (Files.exists(sidecar) && matches(readNode())) {
      register()
      return BucketedEnsure(rebuilt = false, readNode())
    }
    val dirPath = Paths.get(dir).toAbsolutePath.normalize
    Files.createDirectories(dirPath)
    dirPath.toString.intern.synchronized {
      val ch = FileChannel.open(
        dirPath.resolveSibling(dirPath.getFileName.toString + ".graft_lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        if (Files.exists(sidecar) && matches(readNode())) {
          // raced: the lock winner already rebuilt for this fingerprint
          register()
          BucketedEnsure(rebuilt = false, readNode())
        } else {
          val (rows, extras) = build()
          spark.sql(s"DROP TABLE IF EXISTS $table")
          rows.write
            .mode("overwrite")
            // ABSOLUTE path: the catalog qualifies a relative one
            // against the warehouse dir, splitting the store in two
            .option("path", dirPath.toString)
            .bucketBy(buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(table)
          // a REBUILD means the corpus changed: stale version siblings,
          // delta dirs and tombstones belong to the old corpus and
          // would poison delta-aware probes over the fresh base
          val parent = dirPath.getParent
          val stem = dirPath.getFileName.toString
          if (parent != null && Files.exists(parent)) {
            val s = Files.list(parent)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala
                .filter { p =>
                  val n = p.getFileName.toString
                  n.matches(java.util.regex.Pattern.quote(stem) + "_v\\d+") ||
                    n == s"${stem}_deltas" || n == s"${stem}_tombstones"
                }
                .toSeq.foreach(MutableStore.deleteDir)
            } finally s.close()
          }
          val extraJson = extras.map { case (k, v) => s""","$k":$v""" }.mkString
          writeAtomic(sidecar,
            s"""{"count":$nRows,"hash":$dataHash,"hsum":"$hashSum","buckets":$buckets,"key":"$key"$extraJson}""")
          BucketedEnsure(rebuilt = true, readNode())
        }
      } finally {
        lock.release()
        ch.close()
      }
    }
  }

  /** Idempotently materialize an artifact at `dir`: if the sidecar
    * already holds `fingerprint`, return false (reused); otherwise run
    * `build` under the dir lock, write the sidecar last, return true.
    * `build` must (over)write everything under `dir` it owns. */
  def ensure(dir: String, sidecarName: String, fingerprint: String)(build: => Unit): Boolean = {
    val dirPath = Paths.get(dir).toAbsolutePath.normalize
    Files.createDirectories(dirPath)
    val sidecar = dirPath.resolve(sidecarName)
    def upToDate: Boolean =
      Files.exists(sidecar) && Files.readString(sidecar) == fingerprint
    if (upToDate) return false
    dirPath.toString.intern.synchronized {
      val ch = FileChannel.open(
        dirPath.resolveSibling(dirPath.getFileName.toString + ".graft_lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        if (upToDate) false
        else {
          build
          Files.writeString(sidecar, fingerprint)
          true
        }
      } finally {
        lock.release()
        ch.close()
      }
    }
  }
}
