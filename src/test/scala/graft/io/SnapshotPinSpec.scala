package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.index.{Hnsw, Sq}
import graft.text.InvertedIndex

/** The SNAPSHOT-PINNED PROBE contract, end to end: a probe DataFrame
  * resolves its whole leg set (base version path, live delta tags,
  * live tombstones) from ONE committed sidecar read, and compaction GC
  * is LAGGED (a commit's superseded dirs are collected at the START of
  * the next compaction). Consequences proven here, per store family:
  *
  *  - a probe built BEFORE a delete + compaction commit and executed
  *    AFTER it serves the WHOLLY-OLD state (the deleted row is still
  *    in its result — no torn mix of old legs and new tombstones, no
  *    FileNotFound from GC'd dirs);
  *  - a probe built after the commit serves the WHOLLY-NEW state and
  *    equals a from-scratch build over the survivor corpus;
  *  - the retention bound: the NEXT compaction collects the dirs the
  *    previous commit superseded (a pinned probe outlives exactly one
  *    concurrent commit — the documented contract);
  *  - never-reuse versioning: a crashed attempt's version-dir debris
  *    bumps the allocator past itself and is GC'd, so a version path
  *    can never alias fresh data.
  */
class SnapshotPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  // ------------------------------------------------- posting store

  test("posting store: probe pinned before a delete+compaction commit serves wholly-old; fresh probe wholly-new") {
    val docs = Seq(
      (0L, "zebra apple"), (1L, "zebra banana banana"), (2L, "apple banana"),
      (3L, "zebra cherry"), (4L, "cherry apple zebra zebra")
    ).toDF("doc_id", "text")
    val dir = tmp("pin_bm25")
    val table = "pin_bm25_t"
    InvertedIndex.ensure(spark, docs, table, dir, buckets = 4)
    val delta = Seq((10L, "zebra durian")).toDF("doc_id", "text")
    InvertedIndex.appendDelta(spark, dir, delta, tag = "a1")

    def probe() = InvertedIndex
      .bm25SearchDeltaAware(spark, table, dir, Seq("zebra"))
      .as[(Long, Long, Long)].collect().toSeq
    def probeDf() = InvertedIndex
      .bm25SearchDeltaAware(spark, table, dir, Seq("zebra"))

    val wantOld = probe()
    assert(wantOld.exists(_._1 == 3L), "fixture: doc 3 matches the query")
    val pinned = probeDf() // built now, executed only after the commit

    // a delete and a full compaction COMMIT land while it is in flight
    InvertedIndex.deleteDocs(spark, dir,
      docs.filter(col("doc_id") === 3L), tag = "d1")
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)

    assert(pinned.as[(Long, Long, Long)].collect().toSeq == wantOld,
      "the pinned probe must serve the WHOLLY-OLD state across the commit " +
        "(old base files + old delta leg + old stats; no torn mix)")

    val fresh = probe()
    assert(!fresh.exists(_._1 == 3L), "fresh probe must not see the deleted doc")
    assert(fresh != wantOld, "the commit changed stats — results must differ")
    // wholly-new = a from-scratch build over the survivor corpus
    val dir2 = tmp("pin_bm25_ref")
    InvertedIndex.ensure(spark,
      docs.filter(col("doc_id") =!= 3L).unionAll(delta),
      "pin_bm25_ref_t", dir2, buckets = 4)
    val want2 = InvertedIndex
      .bm25SearchDeltaAware(spark, "pin_bm25_ref_t", dir2, Seq("zebra"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(fresh == want2, "fresh probe must equal the from-scratch build")

    // RETENTION BOUND: the next compaction collects what this one kept
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 1,
      "the superseded v0 base data must still be at the dir root (lagged GC)")
    InvertedIndex.appendDelta(spark, dir,
      Seq((11L, "zebra elderberry")).toDF("doc_id", "text"), tag = "a2")
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 4)
    val rootLeft = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally ls.close()
    }
    assert(rootLeft.forall(_.endsWith("_sidecar.json")),
      s"the v0 root data must be GC'd by the NEXT compaction, left: $rootLeft")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"${dir}_deltas/a1")),
      "the folded a1 delta dir must be GC'd by the NEXT compaction")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${dir}_v1")),
      "the just-superseded v1 base is retained one more round")
  }

  test("posting store: a RELATIVE store dir pins — the catalog-location check absolutizes both sides") {
    // regression (r15 ADVICE): pinned() compared the catalog's ABSOLUTE
    // resolved location against a bare-normalized store path, so a
    // relative dir could never validate and every probe exhausted the
    // 8-attempt loop even with no concurrent commit
    val stem = s"tmp_relpin_${System.nanoTime()}"
    val rel = s"target/$stem"
    try {
      val docs = Seq((0L, "lychee fig"), (1L, "fig date")).toDF("doc_id", "text")
      InvertedIndex.ensure(spark, docs, "relpin_t", rel, buckets = 2)
      InvertedIndex.appendDelta(spark, rel,
        Seq((5L, "fig guava")).toDF("doc_id", "text"), tag = "r1")
      val got = InvertedIndex
        .bm25SearchDeltaAware(spark, "relpin_t", rel, Seq("fig"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(got.map(_._1).toSet == Set(0L, 1L, 5L),
        s"relative-dir probe must pin and serve all fig docs, got $got")
    } finally {
      spark.sql("DROP TABLE IF EXISTS relpin_t")
      Seq(rel, s"${rel}_deltas", s"${rel}_tombstones", s"${rel}__writer_lock",
          s"$rel.graft_lock")
        .foreach(p => MutableStore.deleteDir(
          java.nio.file.Paths.get(p).toAbsolutePath))
    }
    val left = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get("target"))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(stem)).toList
      } finally ls.close()
    }
    assert(left.isEmpty, s"relative-dir test left debris behind: $left")
  }

  test("posting store: never-reuse versioning skips past crashed-attempt sibling debris") {
    val docs = Seq((0L, "kiwi mango"), (1L, "mango papaya")).toDF("doc_id", "text")
    val dir = tmp("pin_bm25_crash")
    val table = "pin_crash_t"
    InvertedIndex.ensure(spark, docs, table, dir, buckets = 2)
    InvertedIndex.appendDelta(spark, dir,
      Seq((5L, "mango lime")).toDF("doc_id", "text"), tag = "b1")
    // a crashed attempt renamed its build in but never committed
    val ghost = java.nio.file.Paths.get(s"${dir}_v3")
    java.nio.file.Files.createDirectories(ghost)
    java.nio.file.Files.writeString(ghost.resolve("junk.parquet"), "junk")
    def probe() = InvertedIndex
      .bm25SearchDeltaAware(spark, table, dir, Seq("mango"))
      .as[(Long, Long, Long)].collect().toSeq
    val want = probe()
    InvertedIndex.compactDeltas(spark, table, dir, buckets = 2)
    assert(!java.nio.file.Files.exists(ghost), "debris must be GC'd")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${dir}_v4")),
      "the committed version must skip PAST the debris number, never reuse it")
    assert(probe() == want, "probe invariant across the compaction")
  }

  // ------------------------------------------------- SQ8 code store

  test("sq8 store: probe pinned before a delete+compaction commit serves wholly-old; fresh probe wholly-new") {
    val rng = new scala.util.Random(11)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(6)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("pin_sq8")
    Sq.ensureCodesArtifact(corpus, dir)
    Sq.appendDelta(spark, dir,
      corpus.filter(col("vec_id") === 0L)
        .select((col("vec_id") + 500L).as("vec_id"), col("embedding")), tag = "a1")

    def ids() = Sq.codesWithDeltas(spark, dir)
      .select("vec_id").as[Long].collect().toSet
    val wantOld = ids()
    assert(wantOld.contains(7L) && wantOld.contains(500L))
    val pinned = Sq.codesWithDeltas(spark, dir) // in flight across the commit

    Sq.deleteVectors(spark, dir, corpus.filter(col("vec_id") === 7L), tag = "d1")
    Sq.compactDeltas(spark, dir)

    assert(pinned.select("vec_id").as[Long].collect().toSet == wantOld,
      "pinned codes probe must serve the wholly-old state (deleted id present)")
    val fresh = ids()
    assert(fresh == wantOld - 7L, "fresh probe must serve the wholly-new state")
  }

  // ------------------------------------------------- dedup hash store

  test("hash store: probe pinned before a delete+compaction commit serves wholly-old; fresh probe wholly-new") {
    import graft.dedup.Dedup
    val docs = Seq(
      (0L, "alpha beta"), (1L, "gamma delta"), (2L, "epsilon zeta"),
      (3L, "eta theta")).toDF("doc_id", "text")
    val dir = tmp("pin_hash")
    Dedup.ensureHashStore(spark, docs, dir)
    // one committed mutation so the state file exists with live lists
    Dedup.incrementalDedupBatch(spark, dir,
      Seq((10L, "iota kappa")).toDF("doc_id", "text"), batchTag = Some("a1"))
    val probeBatch = Seq((100L, "gamma delta"), (101L, "iota kappa"))
      .toDF("doc_id", "text")
    def verdicts(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Long])] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val wantOld = verdicts(Dedup.newAgainstStore(spark, dir, probeBatch))
    assert(wantOld(100L) == (0L, Some(1L)) && wantOld(101L) == (0L, Some(10L)))
    val pinned = Dedup.newAgainstStore(spark, dir, probeBatch) // in flight

    Dedup.deleteFromHashStore(spark, dir,
      docs.filter(col("doc_id") === 1L), tag = "d1")
    Dedup.compactHashStore(spark, dir)

    assert(verdicts(pinned) == wantOld,
      "pinned hash-store probe must serve the wholly-old state " +
        "(the deleted pair still matching)")
    val fresh = verdicts(Dedup.newAgainstStore(spark, dir, probeBatch))
    assert(fresh(100L) == (1L, None),
      "fresh probe must see the takedown (content novel again)")
    assert(fresh(101L) == (0L, Some(10L)))
  }

  // ------------------------------------------------- fuzzy signature store

  test("fuzzy store: view pinned before a delete+compaction commit serves wholly-old; fresh view wholly-new") {
    import graft.ops.FuzzyJoin
    val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
    val dir = tmp("pin_fuzzy")
    FuzzyJoin.ensureFuzzyStore(spark, registry, dir, "id", "name")
    // a committed append + a committed delete — live mutation legs
    FuzzyJoin.incrementalFuzzyResolveBatch(spark, dir,
      Seq((50L, "zzz-unique-zzz")).toDF("id", "name"),
      "id", "name", batchTag = Some("a1")).collect()
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("store_id").distinct().as[Long].collect().toSet
    val wantOld = ids(FuzzyJoin.fuzzyStoreView(spark, dir))
    assert(wantOld.contains(3L) && wantOld.contains(50L))
    val pinned = FuzzyJoin.fuzzyStoreView(spark, dir) // in flight

    FuzzyJoin.deleteFromFuzzyStore(spark, dir, Seq(3L).toDF("store_id"), tag = "d1")
    FuzzyJoin.compactFuzzyStore(spark, dir)

    assert(ids(pinned) == wantOld,
      "pinned fuzzy store view must serve the wholly-old state (id 3 present)")
    assert(ids(FuzzyJoin.fuzzyStoreView(spark, dir)) == wantOld - 3L,
      "fresh view must serve the wholly-new state")
  }

  // ------------------------------------------------- IVF layout

  test("ivf layout: probe pinned before a delete+fold+reclaim commit serves wholly-old; fresh probe wholly-new") {
    import graft.index.Ivf
    val rng = new scala.util.Random(31)
    val corpus = (0L until 120L)
      .map(i => (i, Array.fill(6)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("pin_ivf") + "/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 4, maxIter = 3)
    val q = corpus.filter(col("vec_id") === 7L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    // a live streamed delta joins the snapshot (exact copies of the
    // query → they land in the probed cluster by construction)
    val planted = corpus.filter(col("vec_id") === 7L)
      .crossJoin(spark.range(3))
      .select((col("id") + 9000000L).as("vec_id"), col("embedding"))
    Ivf.appendDelta(layout, planted, tag = "a1")

    def probeDf() = Ivf.searchLayoutDeltaAware(spark, layout, q, 5, nprobe = 4)
    def probe() = probeDf().select("vec_id", "dist")
      .as[(Long, Double)].collect().toSeq
    val wantOld = probe()
    assert(wantOld.map(_._1).contains(9000000L), "fixture: delta rows probed")
    val pinnedProbe = probeDf() // built now, executed only after the commit

    // a delete + FOLD commit while it is in flight — previously the
    // engine's one stop-the-world op
    Ivf.deleteFromLayout(layout, Seq(7L, 9000001L).toDF("vec_id"), tag = "d1")
    Ivf.compactDeltas(spark, layout)

    assert(pinnedProbe.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      == wantOld,
      "the pinned probe must serve the WHOLLY-OLD state across the fold " +
        "commit (old manifest files + old delta leg; no torn mix)")

    // a probe pinned ACROSS THE RECLAIM commit too (its own window:
    // post-fold state, evaluated once before and once after)
    val pinned2 = probeDf()
    val wantMasked = pinned2.select("vec_id", "dist")
      .as[(Long, Double)].collect().toSeq
    assert(Ivf.compactLayout(spark, layout, maxTombstoneFraction = 0.0))
    assert(pinned2.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      == wantMasked,
      "a probe pinned across the RECLAIM commit serves its own state too")

    val fresh = probe()
    assert(!fresh.exists(r => r._1 == 7L || r._1 == 9000001L),
      "fresh probe must not see the reclaimed ids")
    assert(fresh == graft.ops.VectorSearch.knnExact(
        corpus.filter(col("vec_id") =!= 7L)
          .unionByName(planted.filter(col("vec_id") =!= 9000001L)),
        q.toSeq, 5)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq,
      "fresh probe must equal exact top-k over the survivor union")
  }

  test("ivf layout: never-reuse versioning skips crashed fold debris; lagged GC collects superseded files") {
    import graft.index.Ivf
    val rng = new scala.util.Random(37)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(4)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("pin_ivf_crash") + "/corpus"
    val layout = Ivf.buildLayout(spark, corpus, dir, nlist = 2, maxIter = 3)
    val q = corpus.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    Ivf.appendDelta(layout,
      corpus.filter(col("vec_id") === 3L)
        .select((col("vec_id") + 9100000L).as("vec_id"), col("embedding")),
      tag = "c1")
    // a crashed attempt renamed its fold in AND wrote its manifest but
    // never committed the state
    val ghost = java.nio.file.Paths.get(dir, "_fold_v5")
    java.nio.file.Files.createDirectories(ghost.resolve("cluster=0"))
    java.nio.file.Files.writeString(
      ghost.resolve("cluster=0").resolve("junk.parquet"), "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_manifest_v5.json"),
      """{"files":["_fold_v5/cluster=0/junk.parquet"],"removed":[],"removedDirs":[]}""")
    def probe() = Ivf.searchLayoutDeltaAware(spark, layout, q, 4, nprobe = 2)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq
    val want = probe()
    Ivf.compactDeltas(spark, layout)
    assert(!java.nio.file.Files.exists(ghost), "fold debris must be GC'd")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifest_v5.json")),
      "manifest debris must be GC'd")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_manifest_v6", "_index.json")),
      "the committed version must skip PAST the debris number, never reuse it " +
        "(split-manifest form: the dir's index json is the completeness mark)")
    assert(probe() == want, "probe invariant across the fold")
    // lagged GC: the folded delta dir survives THIS commit…
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_delta_c1")),
      "the folded delta dir is retained one more round (pinned probes)")
    // …and is collected at the NEXT compaction's start
    Ivf.appendDelta(layout,
      corpus.filter(col("vec_id") === 4L)
        .select((col("vec_id") + 9100010L).as("vec_id"), col("embedding")),
      tag = "c2")
    Ivf.compactDeltas(spark, layout)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_delta_c1")),
      "the superseded delta dir must be collected by the NEXT compaction")
  }

  // ------------------------------------------------- HNSW layout

  test("hnsw layout: probe pinned before a delete+reclaim commit serves wholly-old; fresh probe wholly-new") {
    val rng = new scala.util.Random(23)
    val corpus = (0L until 80L)
      .map(i => (i, Array.fill(6)(rng.nextFloat())))
      .toDF("vec_id", "embedding").localCheckpoint()
    val dir = tmp("pin_hnsw")
    val p = Hnsw.Params(m = 4, efConstruction = 16, parts = 2)
    Hnsw.ensureLayout(corpus, dir, p)
    val q = corpus.filter(col("vec_id") === 5L)
      .select(col("embedding")).head().getSeq[Float](0).toArray

    def probeDf() = Hnsw.searchLayout(spark, dir, q, 5, p, efSearch = 64)
    def probe() = probeDf().select("vec_id", "dist")
      .as[(Long, Double)].collect().toSeq
    val wantOld = probe()
    assert(wantOld.head._1 == 5L)
    val pinned = probeDf() // in flight across the commit

    // delete the query vector itself, then physically reclaim
    Hnsw.deleteFromLayout(spark, dir, Seq(5L), tag = "t1")
    Hnsw.compactDeltas(spark, dir, p, dropTombstoned = true)

    assert(pinned.select("vec_id", "dist").as[(Long, Double)].collect().toSeq
      == wantOld,
      "pinned layout probe must serve the wholly-old state (v0 files retained)")
    val fresh = probe()
    assert(!fresh.exists(_._1 == 5L), "fresh probe must not see the reclaimed id")
    assert(fresh == graft.ops.VectorSearch
      .knnExact(corpus.filter(col("vec_id") =!= 5L), q.toSeq, 5)
      .select("vec_id", "dist").as[(Long, Double)].collect().toSeq,
      "fresh probe must equal exact top-k over the survivors")
  }
}
