package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VectorRecord
import graft.dedup.Dedup
import graft.io.Envelope
import graft.ops.{VectorCrud, VectorStore}

/** Vector-store lifecycle, embedding utilities, and the file-format
  * round trips. Each query is declared next to its DuckDB oracle. */
object StoreQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // Johnson–Lindenstrauss sign projection 64 → 16 dims: a fixed
    // deterministic ±1 matrix (no RNG state), strictly left-associative
    // float64 folds micro-quantized per output dim — the oracle bakes
    // the identical sign literals, so all 16 projected coordinates of
    // every vector are hash-pinned. Narrow codegen arithmetic.
    QuerySpec("emb_project", (s, dir) => {
      val cols = (0 until 16).map(i =>
        graft.functions.Projections.signProjectMicro(col("embedding"), i, EmbDim)
          .as(f"p$i%02d"))
      emb(s, dir).select((col("vec_id") +: cols): _*).orderBy(col("vec_id"))
    }, () =>
      // The identical ±1 literals and left-associative fold order, baked
      // from the same Projections.sign table at SQL-generation time.
      {
      val outCols = (0 until 16).map { i =>
        val terms = (0 until EmbDim).map { j =>
          val s = if (graft.functions.Projections.sign(i, j, EmbDim) > 0) "+" else "-"
          s"$s CAST(embedding[${j + 1}] AS DOUBLE)"
        }.mkString(" ")
        f"CAST(floor(($terms) * 1e6) AS BIGINT) AS p$i%02d"
      }
      s"""SELECT vec_id, ${outCols.mkString(",\n       ")}
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }),

    // Exact PCA (the optimal linear projection) next to emb_project's
    // SRP: the fit is one distributed moments pass (per-partition
    // (count, sum, gram) triples, O(d²) driver state), the eigen step
    // is d×d driver arithmetic, and projection is codegen literals.
    // Eigenvectors are not SQL-expressible, so the summary pins the
    // verifiable contract: orthonormal sign-fixed basis, descending
    // eigenvalues, the DISTRIBUTED projected variance matching each
    // eigenvalue (model ↔ data agreement), and capture strictly above
    // the uniform k/d fraction an arbitrary direction set gets on
    // isotropic data (measured 0.16–0.20 vs 0.125 across SFs).
    QuerySpec("emb_pca_check", (s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val model = graft.ops.Pca.fit(corpus, k = 8)
      val orthonormal = model.basis.indices.forall { i =>
        model.basis.indices.forall { j =>
          val dot = model.basis(i).zip(model.basis(j)).map { case (x, y) => x * y }.sum
          math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9
        }
      }
      val descending = model.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12)
      val beatsUniform =
        model.varianceExplained > model.basis.length.toDouble / model.dim
      val vars = graft.ops.Pca.project(corpus, model)
        .agg(var_pop(col("pc0")).as("v"),
          (1 until 8).map(i => var_pop(col(s"pc$i")).as(s"v$i")): _*)
        .head()
      val projVarOk = model.eigenvalues.indices.forall { i =>
        math.abs(vars.getDouble(i) - model.eigenvalues(i)) /
          math.max(model.eigenvalues(i), 1e-12) < 1e-6
      }
      import s.implicits._
      Seq((model.dim.toLong, model.basis.length.toLong,
        if (orthonormal) 1L else 0L, if (descending) 1L else 0L,
        if (projVarOk) 1L else 0L, if (beatsUniform) 1L else 0L))
        .toDF("dim", "k", "orthonormal", "descending", "proj_var_ok", "beats_uniform")
    }, () =>
      // The eigendecomposition is not SQL-expressible; the invariants
      // (orthonormal basis, descending spectrum, projected variance ==
      // eigenvalue, capture above the uniform k/d fraction) hold for a
      // correct PCA of this corpus, so the oracle pins the constants.
      """SELECT CAST(64 AS BIGINT) AS dim, CAST(8 AS BIGINT) AS k,
        |       CAST(1 AS BIGINT) AS orthonormal, CAST(1 AS BIGINT) AS descending,
        |       CAST(1 AS BIGINT) AS proj_var_ok, CAST(1 AS BIGINT) AS beats_uniform""".stripMargin),

    // O3 get: point lookup by id (reference vectordb.cpp:54-59) — the
    // filter pushes to the parquet scan.
    QuerySpec("vec_get", (s, dir) => {
      VectorCrud.get(emb(s, dir), 42, idCol = "vec_id")
        .select(col("vec_id"), col("label"), size(col("embedding")).cast("long").as("dim"))
    }, () =>       "SELECT vec_id, label, len(embedding) AS dim FROM embeddings WHERE vec_id = 42"),

    // O5 delete: anti-filter by id (vectordb.cpp:74-80); checksum output.
    QuerySpec("vec_delete", (s, dir) => {
      VectorCrud.delete(emb(s, dir), 42, idCol = "vec_id")
        .agg(count(lit(1)).as("n_rows"), sum(col("vec_id")).as("id_sum"))
    }, () =>
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum
        |FROM embeddings WHERE vec_id <> 42""".stripMargin),

    // O2 add: append a row with id = max+1 (the reference's nextId
    // contract, vectordb.cpp:38-52); checksum output.
    QuerySpec("vec_add", (s, dir) => {
      val e = emb(s, dir)
      val newRow = e.agg((max(col("vec_id")) + 1).as("vec_id"))
        .withColumn("embedding", array_repeat(lit(0.0f), EmbDim))
        .withColumn("label", lit(-1))
      VectorCrud.add(e, newRow)
        .agg(count(lit(1)).as("n_rows"), max(col("vec_id")).as("max_id"))
    }, () =>
      """WITH added AS (SELECT vec_id FROM embeddings
        |               UNION ALL SELECT max(vec_id) + 1 FROM embeddings)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows, max(vec_id) AS max_id FROM added""".stripMargin),

    // O4 update: in-place replace by id via when/otherwise projection
    // (vectordb.cpp:61-72); window of ids around the change.
    QuerySpec("vec_update", (s, dir) => {
      val updated = VectorCrud.update(
        emb(s, dir), 42,
        Map("embedding" -> array_repeat(lit(1.0f), EmbDim)),
        idCol = "vec_id")
      updated
        .filter(col("vec_id").between(40, 44))
        .select(col("vec_id"), element_at(col("embedding"), 1).cast("double").as("e0"))
        .orderBy(col("vec_id"))
    }, () =>
      """SELECT vec_id,
        |       CASE WHEN vec_id = 42 THEN CAST(1.0 AS DOUBLE)
        |            ELSE CAST(embedding[1] AS DOUBLE) END AS e0
        |FROM embeddings WHERE vec_id BETWEEN 40 AND 44 ORDER BY vec_id""".stripMargin),

    // O1 init: create an empty fixed-dim database (vectordb.cpp:23-36),
    // reload it, report its observable state.
    QuerySpec("vec_init", (s, _) => {
      val tmp = scratchDir("init")
      val store = VectorStore.init(s, s"$tmp/db.json", EmbDim)
      val reloaded = VectorStore.load(s, s"$tmp/db.json")
      import s.implicits._
      Seq((reloaded.getDimensions.toLong, reloaded.toDF.count()))
        .toDF("dim", "n_vectors")
    }, () =>       "SELECT CAST(64 AS BIGINT) AS dim, CAST(0 AS BIGINT) AS n_vectors"),

    // O10 getDimensions: schema introspection over the corpus
    // (vectordb.cpp:220-222).
    QuerySpec("vec_dims", (s, dir) => {
      emb(s, dir).agg(max(size(col("embedding"))).as("dim"))
    }, () =>       "SELECT CAST(max(len(embedding)) AS INTEGER) AS dim FROM embeddings"),

    // O8+O9 save/load: full envelope round-trip — corpus → reference
    // JSON envelope → back, then join against the original and count
    // any id/embedding mismatches (must be 0: float32→double→float32
    // widening is lossless).
    QuerySpec("envelope_roundtrip", (s, dir) => {
      import s.implicits._
      val orig = emb(s, dir)
        .select(col("vec_id").as("id"), col("embedding"),
          concat(lit("{\"label\": "), col("label"), lit("}")).as("metadata"))
        .as[VectorRecord]
      val tmp = scratchDir("env")
      Envelope.saveDataset(EmbDim, orig.count() + 1, orig, s"$tmp/db.json")
      val (_, _, loaded) = Envelope.loadDataset(s, s"$tmp/db.json").get
      val joined = loaded.toDF("id", "embedding2", "metadata2")
        .join(orig.toDF(), "id")
      joined.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("embedding") =!= col("embedding2"), 1L).otherwise(0L)).as("n_mismatch"))
    }, () =>
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings""".stripMargin),

    // ORC sink/source roundtrip (the "other formats" row of SURVEY §2.4
    // — free via Spark's DataSource V2, demonstrated rather than
    // claimed): documents write to ORC and read back; the declared
    // output is an order-free content summary (counts, id/char sums,
    // xor of a 32-bit md5 deviate of the raw text) that the oracle
    // recomputes from the PARQUET original — any loss or corruption in
    // the ORC path breaks the hash match.
    QuerySpec("orc_roundtrip", (s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"orcwork_p${ProcessHandle.current().pid()}") + "/docs"
      docs(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    }, () =>
      // Recomputed from the parquet original: equality proves the ORC
      // write+read preserved every row bit-for-bit (md5 of the raw text).
      OrcRoundtripOracle),

    // CSV sink/source path (the interchange format the parquet-native
    // stack still meets at ingest boundaries): write with an explicit
    // escape discipline, read back with a declared schema (no inference
    // pass — at 100 TB schema inference is a full extra scan), then the
    // same content checksum as orc_roundtrip, recomputed by the oracle
    // from the parquet original — a lossy writer, reader, or null/empty
    // conflation would shift it.
    QuerySpec("csv_roundtrip", (s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"csvwork_p${ProcessHandle.current().pid()}") + "/docs"
      // explicit RFC-4180 escape (doubled quotes) on BOTH sides plus a
      // multiLine read: the default reader splits records on raw
      // newlines, so any document containing '\n' would break the
      // roundtrip silently (the fixture gap CsvNewlineSpec pins)
      docs(s, dir).write.mode("overwrite")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"")
        .csv(tmp)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("header", "true").option("nullValue", "\\N")
        .option("escape", "\"").option("multiLine", "true")
        .csv(tmp)
        .withColumn("h",
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("doc_id")).cast("long").as("id_sum"),
          sum(col("n_chars")).cast("long").as("chars_sum"),
          expr("bit_xor(h)").as("text_hash_xor"))
    }, () => OrcRoundtripOracle),

    // XML sink/source roundtrip (Spark 4 built-in xml datasource, the
    // spark-xml donation): events project to XML-safe scalars — the
    // double `value` quantizes to integer cents BEFORE the write so no
    // float ever round-trips through XML text formatting — written with
    // an explicit rowTag, read back with a DECLARED schema (no sampling
    // inference scan), and reduced to checksums the oracle replays from
    // the parquet the XML was derived from.
    QuerySpec("xml_roundtrip", (s, dir) => {
      val tmp = ivfLayoutDir(dir,
        s"xmlwork_p${ProcessHandle.current().pid()}") + "/events"
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("value_cents"))
        .write.mode("overwrite")
        .option("rowTag", "event").option("rootTag", "events")
        .format("xml").save(tmp)
      s.read
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value_cents BIGINT")
        .option("rowTag", "event")
        .format("xml").load(tmp)
        .withColumn("h",
          conv(substring(md5(col("event_type")), 1, 8), 16, 10).cast("long"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"),
          sum(col("value_cents")).cast("long").as("cents_sum"),
          expr("bit_xor(h)").as("type_hash_xor"))
    }, () =>
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(event_id) AS BIGINT) AS id_sum,
         |       CAST(sum(user_id) AS BIGINT) AS user_sum,
         |       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents_sum,
         |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(event_type)[i]) AS BIGINT) - 1)
         |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS type_hash_xor
         |FROM events""".stripMargin),

    // Embedding-cosine near-dups via the SRP band join. The fixture
    // embeddings are near-orthogonal random vectors (max natural cosine
    // ≈ 0.51), so the query plants 20 exact duplicates (vec_id+1000000)
    // — the operator must surface exactly those pairs, and the oracle
    // recomputes them with a brute-force SQL join over the same planted
    // corpus.
    QuerySpec("emb_near_dups", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.embeddingNearDups(e.union(planted), minCosine = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin),

    // SemDeDup-style semantic dedup: k-means clusters scope the pair
    // search; exact copies (vec_id<30 planted at +2000000) are
    // guaranteed intra-cluster (identical input ⇒ identical argmin), so
    // the cluster-scoped search must equal the brute-force oracle: the
    // fixture has no natural pair at cos ≥ 0.99, and every planted pair
    // sits at cos = 1.
    QuerySpec("emb_semdedup", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 30)
        .withColumn("vec_id", col("vec_id") + lit(2000000L))
      Dedup.semanticNearDups(e.union(planted), nClusters = 8, minCosine = 0.99)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Brute force over ALL pairs at the cosine threshold: equals the
      // cluster-scoped search because exact copies always share a cluster
      // and nothing else reaches 0.99 (see the query comment).
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id < 30)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       (${dotSql("a.embedding", "b.embedding")})
         |         / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos_sim
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE (${dotSql("a.embedding", "b.embedding")})
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin),

    // Vector-side DESCRIBE INDEX — the SQ8 store's introspection
    // surface after a scripted lifecycle (one append delta, one delete
    // batch): committed version, live mutation legs, and the
    // delta-aware live code count the next ADC probe will scan. The
    // oracle recomputes n_codes from the corpus definition.
    QuerySpec("sq8_store_describe", (s, dir) => {
      val corpus = emb(s, dir)
      val key = dirKey(dir)
      val sqDir = s"${System.getProperty("java.io.tmpdir")}/graft_sq8del_$key"
      graft.index.Sq.ensureCodesArtifact(corpus, sqDir)
      graft.index.Sq.dropMutations(sqDir) // replay determinism
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(5300000L)).as("vec_id"), col("embedding"))
      graft.index.Sq.appendDelta(s, sqDir, planted, tag = "a1")
      graft.index.Sq.deleteVectors(s, sqDir,
        corpus.filter(col("vec_id").isin(7L, 8L)), tag = "d1")
      graft.index.Sq.describeStore(s, sqDir).orderBy(col("metric"))
    }, () =>
      // The SQ8 describe recomputed from the corpus definition: never
      // compacted, one delta (+5 planted), one tombstone (−2 deleted).
      """SELECT 'base_version' AS metric, CAST(0 AS BIGINT) AS value
        |UNION ALL SELECT 'live_deltas', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'live_tombstones', CAST(1 AS BIGINT)
        |UNION ALL SELECT 'n_codes',
        |  (SELECT CAST(count(*) + 3 AS BIGINT) FROM embeddings)
        |ORDER BY metric""".stripMargin),

    // STORE INTROSPECTION — the engine's DESCRIBE INDEX: after a
    // scripted mutation lifecycle (one append delta, one delete batch)
    // the describe row set must report the committed version, the live
    // mutation legs, and the MERGED delta-aware corpus stats — the
    // exact numbers the next BM25 probe scores with. The oracle
    // recomputes n_docs/sum_dl from the survivor corpus definition, so
    // a matching hash proves the introspection surface is wired to the
    // same arithmetic as the probes, not to file counts.
    QuerySpec("store_describe", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_descr_$key"
      val table = s"graft_descr_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      val planted = corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + lit(8600000L)).as("doc_id"), col("text"))
      graft.text.InvertedIndex.appendDelta(s, idxDir, planted, tag = "a1")
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(3L, 4L)), tag = "d1")
      graft.text.InvertedIndex.describeStore(s, idxDir).orderBy(col("metric"))
    }, () =>
      // The describe surface recomputed from the survivor corpus: base
      // version 0 (never compacted), one live delta, one live tombstone,
      // and n_docs/sum_dl over (documents − {3,4}) ∪ the 5 planted docs.
      s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl FROM (
         |  SELECT doc_id, text FROM documents WHERE doc_id NOT IN (3, 4)
         |  UNION ALL
         |  SELECT doc_id + 8600000 AS doc_id, text FROM documents
         |  WHERE doc_id < 5))
         |SELECT 'base_version' AS metric, CAST(0 AS BIGINT) AS value
         |UNION ALL SELECT 'live_deltas', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'live_tombstones', CAST(1 AS BIGINT)
         |UNION ALL SELECT 'n_docs', (SELECT CAST(count(*) AS BIGINT) FROM d)
         |UNION ALL SELECT 'sum_dl', (SELECT CAST(sum(dl) AS BIGINT) FROM d)
         |ORDER BY metric""".stripMargin),

    // The GC RETENTION knob (r15 VERDICT task 2) as a declared query:
    // under retention=2 a pinned store view survives TWO interleaved
    // compaction commits and is collected exactly at the third; under
    // the default retention=1 the same interleaving loses the pinned
    // snapshot's files (the documented historical bound). Runs the
    // full lifecycle on two scratch fuzzy stores.
    QuerySpec("store_gc_retention", (s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "retq")
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      def fixture(sub: String): String = {
        val d = s"$scratch/$sub"
        graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((50L, "zzz-unique-zzz")).toDF("id", "name"),
          "id", "name", batchTag = Some("a1")).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d) // → v1
        d
      }
      def commit(d: String, id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      val prev = graft.io.MutableStore.gcRetention
      val (survives, collected, freshOk, boundR1) = try {
        graft.io.MutableStore.gcRetention = 2
        val d2 = fixture("r2")
        val wantOld = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d2))
        val pinnedView = graft.ops.FuzzyJoin.fuzzyStoreView(s, d2)
        commit(d2, 60L, "a2"); commit(d2, 61L, "a3")
        val survives = ids(pinnedView) == wantOld
        commit(d2, 62L, "a4") // third commit unprotects v1
        val collected = !java.nio.file.Files.exists(
          java.nio.file.Paths.get(d2, "base_v1"))
        val freshOk = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d2)) ==
          wantOld ++ Set(60L, 61L, 62L)
        graft.io.MutableStore.gcRetention = 1
        val d1 = fixture("r1")
        val want1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d1))
        val pinned1 = graft.ops.FuzzyJoin.fuzzyStoreView(s, d1)
        commit(d1, 60L, "a2"); commit(d1, 61L, "a3")
        val got1 = try Some(ids(pinned1)) catch { case _: Throwable => None }
        (survives, collected, freshOk, got1 != Some(want1))
      } finally graft.io.MutableStore.gcRetention = prev
      Seq((
        if (survives) 1L else 0L,
        if (collected) 1L else 0L,
        if (freshOk) 1L else 0L,
        if (boundR1) 1L else 0L
      )).toDF("r2_pinned_survives_two_commits", "r2_collected_at_third",
        "r2_fresh_serves_new", "r1_bound_documented")
    }, () =>
      // Retention-knob invariants hold by the GC protocol itself, so the
      // expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS r2_pinned_survives_two_commits,
        |       CAST(1 AS BIGINT) AS r2_collected_at_third,
        |       CAST(1 AS BIGINT) AS r2_fresh_serves_new,
        |       CAST(1 AS BIGINT) AS r1_bound_documented""".stripMargin),

    // STANDALONE SNAPSHOT EXPIRY (r16 VERDICT task 2) as a declared
    // query: lagged GC runs only at the next compaction's start, so a
    // QUIESCENT store retains superseded versions forever — until the
    // explicit, lease-holding expireSnapshots maintenance op applies
    // the retention policy on demand. Proven on a scratch fuzzy store:
    // a prior within retention survives the op (and a view pinned on
    // it still serves), tightening the policy then reclaims the
    // superseded base WITHOUT a content commit (version pointer
    // unmoved), and the op is idempotent.
    QuerySpec("store_expire_snapshots", (s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "expq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      commit(50L, "a1") // → v1
      graft.io.MutableStore.setGcRetention(d, Some(2))
      val (retained, protSurvives, pinnedServes, reclaimed, vUnmoved,
          freshOk, idem) =
        try {
          val wantV1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d))
          val pinned = graft.ops.FuzzyJoin.fuzzyStoreView(s, d) // pinned at v1
          commit(60L, "a2") // → v2; the v1 prior is retention-protected
          val base1 = java.nio.file.Paths.get(d, "base_v1")
          val retained = java.nio.file.Files.exists(base1)
          graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d) // policy: keep 2
          val protSurvives = java.nio.file.Files.exists(base1)
          val pinnedServes = ids(pinned) == wantV1
          graft.io.MutableStore.setGcRetention(d, None) // default 1
          val n = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d)
          val reclaimed = n >= 1 && !java.nio.file.Files.exists(base1)
          val st = graft.io.MutableStore.state(d)
          val vUnmoved = st.v == 2 && st.priors.isEmpty
          val freshOk =
            ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 + 60L
          val idem = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d) == 0
          (retained, protSurvives, pinnedServes, reclaimed, vUnmoved,
            freshOk, idem)
        } finally graft.io.MutableStore.setGcRetention(d, None)
      Seq((
        if (retained) 1L else 0L,
        if (protSurvives) 1L else 0L,
        if (pinnedServes) 1L else 0L,
        if (reclaimed) 1L else 0L,
        if (vUnmoved) 1L else 0L,
        if (freshOk) 1L else 0L,
        if (idem) 1L else 0L
      )).toDF("retained_until_expiry", "protected_prior_survives",
        "pinned_within_retention_serves", "reclaimed_on_demand",
        "no_content_commit", "fresh_serves_new", "idempotent")
    }, () =>
      """SELECT CAST(1 AS BIGINT) AS retained_until_expiry,
        |       CAST(1 AS BIGINT) AS protected_prior_survives,
        |       CAST(1 AS BIGINT) AS pinned_within_retention_serves,
        |       CAST(1 AS BIGINT) AS reclaimed_on_demand,
        |       CAST(1 AS BIGINT) AS no_content_commit,
        |       CAST(1 AS BIGINT) AS fresh_serves_new,
        |       CAST(1 AS BIGINT) AS idempotent""".stripMargin),

    // TIME-TRAVEL reads (r16 VERDICT task 4) as a declared query: a
    // three-version scratch fuzzy store (two compaction commits under
    // retention=2, then an uncompacted live leg) replayed AS OF every
    // retained version. Each prior replays its RETIREMENT state — base
    // version + the delta legs live at the superseding commit — and
    // the current version is the live view; the oracle pins the exact
    // (version, store_id) relation.
    QuerySpec("store_time_travel", (s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "ttq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      commit(50L, "a1") // v0 retired carrying live=[a1] → v1
      graft.io.MutableStore.setGcRetention(d, Some(2))
      try {
        commit(60L, "a2") // v1 retired carrying live=[a2] → v2
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((70L, "uniq70uniq70uniq70")).toDF("id", "name"),
          "id", "name", batchTag = Some("live1")).collect() // uncompacted
        graft.io.MutableStore.retainedVersions(d).map { v =>
          graft.ops.FuzzyJoin.fuzzyStoreViewAt(s, d, v)
            .select(lit(v).as("version"), col("store_id")).distinct()
        }.reduce(_ unionAll _).orderBy(col("version"), col("store_id"))
      } finally graft.io.MutableStore.setGcRetention(d, None)
    }, () =>
      // The three-version time-travel relation is fully determined by
      // the scripted lifecycle: v0 retired = seed 1..9 + the a1 leg
      // (50), v1 retired = + the a2 leg (60), current v2 live view = +
      // the uncompacted leg (70).
      """SELECT version, CAST(store_id AS BIGINT) AS store_id FROM (
        |  SELECT 0 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50)) t0(store_id)
        |  UNION ALL
        |  SELECT 1 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60)) t1(store_id)
        |  UNION ALL
        |  SELECT 2 AS version, store_id
        |  FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(50),(60),(70)) t2(store_id)
        |) ORDER BY version, store_id""".stripMargin),

    // NAMED SNAPSHOT TAGS + ROLLBACK (round 17; the Iceberg tag /
    // rollback analogues — completing the snapshot lifecycle: pin,
    // retain, time-travel, NAME, RESTORE). A tag exempts its version
    // from the retention policy indefinitely (the bound is the tag
    // list, never a silent cap); rollback commits a state replaying a
    // retained prior with NO data movement; the rolled-back-FROM
    // version stays roll-forward-able as a retained prior. Scripted on
    // a scratch fuzzy store under the DEFAULT retention=1 — the
    // harshest policy: every proof below holds because the TAG (not
    // the policy) is doing the protecting.
    QuerySpec("store_snapshot_rollback", (s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "tagq")
      val d = s"$scratch/store"
      val registry = (1L to 9L).map(i => (i, f"name-$i%04d")).toDF("id", "name")
      graft.ops.FuzzyJoin.ensureFuzzyStore(s, registry, d, "id", "name")
      def commit(id: Long, tag: String): Unit = {
        graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, d,
          Seq((id, s"uniq$id" * 3)).toDF("id", "name"),
          "id", "name", batchTag = Some(tag)).collect()
        graft.ops.FuzzyJoin.compactFuzzyStore(s, d)
      }
      def ids(df: DataFrame): Set[Long] =
        df.select("store_id").distinct().as[Long].collect().toSet
      def baseV1: Boolean = java.nio.file.Files.exists(
        java.nio.file.Paths.get(d, "base_v1"))
      commit(50L, "a1") // → v1
      val wantV1 = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d))
      graft.ops.FuzzyJoin.tagFuzzySnapshot(d, "golden") // names v1
      // two commits under default retention=1 would collect v1; the
      // tag keeps it readable BY NAME
      commit(60L, "a2"); commit(61L, "a3") // → v3
      val tagProtects = baseV1
      val tagView =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // ROLLBACK to the tag; then ROLL-FORWARD (the from-version is a
      // retained prior)
      val from = graft.ops.FuzzyJoin.rollbackFuzzyStoreToTag(d, "golden")
      val rollbackRestores = from == 3 &&
        graft.io.MutableStore.state(d).v == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1
      val rollForward = graft.ops.FuzzyJoin.rollbackFuzzyStore(d, 3) == 1 &&
        ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) == wantV1 ++ Set(60L, 61L)
      // a compaction after the rollback dance: never-reuse allocation
      // skips every on-disk version; the tagged snapshot still serves
      commit(62L, "a4")
      val neverReuse = graft.io.MutableStore.state(d).v == 4
      val tagSurvivesFold =
        ids(graft.ops.FuzzyJoin.fuzzyStoreViewAtTag(s, d, "golden")) == wantV1
      // dropping the tag hands the snapshot back to the policy: the
      // standalone expiry collects it and revokes the read
      graft.ops.FuzzyJoin.dropFuzzyTag(d, "golden")
      val expired = graft.ops.FuzzyJoin.expireFuzzyStoreSnapshots(d)
      val viewAtGone = try {
        graft.ops.FuzzyJoin.fuzzyStoreViewAt(s, d, 1); false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("not readable") }
      val revoked = expired >= 1 && !baseV1 && viewAtGone
      val freshServes = ids(graft.ops.FuzzyJoin.fuzzyStoreView(s, d)) ==
        wantV1 ++ Set(60L, 61L, 62L)
      Seq((
        if (tagProtects) 1L else 0L,
        if (tagView) 1L else 0L,
        if (rollbackRestores) 1L else 0L,
        if (rollForward) 1L else 0L,
        if (neverReuse) 1L else 0L,
        if (tagSurvivesFold) 1L else 0L,
        if (revoked) 1L else 0L,
        if (freshServes) 1L else 0L
      )).toDF("tag_protects_default_policy", "time_travel_by_tag",
        "rollback_restores", "roll_forward", "never_reuse_allocation",
        "tag_survives_fold", "drop_tag_revokes", "fresh_serves_new")
    }, () =>
      // Snapshot-expiry invariants hold by the maintenance-op protocol
      // itself, so the expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS tag_protects_default_policy,
        |       CAST(1 AS BIGINT) AS time_travel_by_tag,
        |       CAST(1 AS BIGINT) AS rollback_restores,
        |       CAST(1 AS BIGINT) AS roll_forward,
        |       CAST(1 AS BIGINT) AS never_reuse_allocation,
        |       CAST(1 AS BIGINT) AS tag_survives_fold,
        |       CAST(1 AS BIGINT) AS drop_tag_revokes,
        |       CAST(1 AS BIGINT) AS fresh_serves_new""".stripMargin),

    // The WRITER LEASE (r15 VERDICT task 5) as a declared query: the
    // single-writer contract is ENFORCED — a commit primitive outside
    // a lease is rejected loudly, a second interleaved writer is
    // rejected naming the holder, a crashed writer's stale lock is
    // stolen after the TTL, and the post-steal commit lands.
    QuerySpec("store_writer_lease", (s, dir) => {
      import s.implicits._
      val scratch = freshScratchDir(dir, "leaseq")
      val storeDir = s"$scratch/store"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
      val outsideRejected = try {
        graft.io.MutableStore.commitLiveLists(storeDir, Seq("x"), Seq.empty); 0L
      } catch {
        case e: IllegalStateException if e.getMessage.contains("writer lease") => 1L
      }
      val aInside = new java.util.concurrent.CountDownLatch(1)
      val aRelease = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        graft.io.MutableStore.withWriterLock(storeDir, "writerA") {
          aInside.countDown(); aRelease.await()
        })
      holder.start(); aInside.await()
      val secondRejected = try {
        graft.io.MutableStore.withWriterLock(storeDir, "writerB")(0L)
      } catch {
        case e: IllegalStateException
            if e.getMessage.contains("single-writer") &&
              e.getMessage.contains("writerA") => 1L
      }
      aRelease.countDown(); holder.join()
      // crashed writer: stale lock aged past the TTL is stolen
      val d = java.nio.file.Paths.get(storeDir).toAbsolutePath.normalize
      val lock = d.getParent.resolve(d.getFileName.toString + "__writer_lock")
      java.nio.file.Files.write(lock, "crashed@dead-jvm".getBytes("UTF-8"))
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 11L * 60L * 1000L))
      val stolen = graft.io.MutableStore.withWriterLock(storeDir, "writerC") {
        graft.io.MutableStore.commitLiveLists(storeDir, Seq("ok"), Seq.empty); 1L
      }
      val committed =
        if (graft.io.MutableStore.state(storeDir).live == Some(Seq("ok"))) 1L
        else 0L
      // FENCING (r16 VERDICT task 1): a writer stalled PAST the TTL
      // whose lock was stolen must not commit over the stealer's state,
      // and its release must not delete the stealer's live lock. The
      // heartbeat (which keeps a LIVE slow writer from ever expiring)
      // is suppressed to simulate a full process stall.
      val storeDir2 = s"$scratch/store_fence"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir2))
      val d2 = java.nio.file.Paths.get(storeDir2).toAbsolutePath.normalize
      val lock2 = d2.getParent.resolve(d2.getFileName.toString + "__writer_lock")
      graft.io.MutableStore.heartbeatEnabled = false
      val (fencedCommit, fencedRelease, stealerSurvives) = try {
        val ttl = 400L
        val aAcquired = new java.util.concurrent.CountDownLatch(1)
        val proceedA = new java.util.concurrent.CountDownLatch(1)
        val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val a = new Thread(() =>
          try graft.io.MutableStore.withWriterLock(storeDir2, "stalledA", ttlMs = ttl) {
            aAcquired.countDown(); proceedA.await()
            graft.io.MutableStore.commitLiveLists(storeDir2, Seq("fromA"), Seq.empty)
          } catch { case t: Throwable => aErr.set(t) })
        a.start(); aAcquired.await()
        Thread.sleep(ttl + 200)
        val inner = graft.io.MutableStore.withWriterLock(storeDir2, "stealerB", ttlMs = ttl) {
          graft.io.MutableStore.commitLiveLists(storeDir2, Seq("fromB"), Seq.empty)
          proceedA.countDown(); a.join(10000)
          val cFenced = Option(aErr.get()).exists(_.getMessage.contains("STOLEN"))
          val rFenced = java.nio.file.Files.exists(lock2) // A left B's lock alone
          (cFenced, rFenced)
        }
        val survives =
          graft.io.MutableStore.state(storeDir2).live == Some(Seq("fromB"))
        (if (inner._1) 1L else 0L, if (inner._2) 1L else 0L, if (survives) 1L else 0L)
      } finally graft.io.MutableStore.heartbeatEnabled = true
      Seq((outsideRejected, secondRejected, stolen, committed,
          fencedCommit, fencedRelease, stealerSurvives))
        .toDF("commit_outside_lease_rejected", "second_writer_rejected",
          "expired_lease_stolen", "post_steal_commit_lands",
          "stalled_commit_fenced", "stalled_release_fenced",
          "stealer_state_survives")
    }, () =>
      // Writer-lease invariants hold by the lock protocol itself, so the
      // expected summary is constant.
      """SELECT CAST(1 AS BIGINT) AS commit_outside_lease_rejected,
        |       CAST(1 AS BIGINT) AS second_writer_rejected,
        |       CAST(1 AS BIGINT) AS expired_lease_stolen,
        |       CAST(1 AS BIGINT) AS post_steal_commit_lands,
        |       CAST(1 AS BIGINT) AS stalled_commit_fenced,
        |       CAST(1 AS BIGINT) AS stalled_release_fenced,
        |       CAST(1 AS BIGINT) AS stealer_state_survives""".stripMargin),

    // Deterministic k-means — CLUSTERING itself under the hash gate
    // (the IVF coarse quantizer's ML fit is only invariant-pinned):
    // Lloyd rounds on the micro-quantized integer grid, where every
    // distance, argmin and floor-division centroid update is exact
    // int64 and therefore order-independent across partitionings and
    // engines. The semantic-clustering primitive SemDeDup-style
    // pipelines shard by. The oracle replays the entire training.
    QuerySpec("emb_kmeans", (s, dir) => {
      graft.ops.QuantKMeans.fitAssign(emb(s, dir), k = 4, iters = 3, dim = EmbDim)
        .orderBy(col("vec_id"))
    }, () => quantKMeansOracleSql(k = 4, iters = 3)),

    // Embedding OUTLIER detection — the curation step after
    // clustering: the 20 vectors farthest from their own (nearest)
    // centroid under the deterministic quantized k-means model, i.e.
    // the points no cluster explains — encoding garbage, off-
    // distribution content, mislabeled modalities. Exact integer
    // distances make the ranking engine-invariant; the cut is a
    // bounded TakeOrdered, and the oracle replays the full training
    // then takes the same top-20. At 100 TB this is one narrow
    // assignment map (centroids are plan literals) + a k-row heap —
    // no shuffle beyond the training rounds' k·d-cell aggregates.
    QuerySpec("emb_outliers", (s, dir) => {
      graft.ops.QuantKMeans.fitAssign(emb(s, dir), k = 4, iters = 3, dim = EmbDim)
        .orderBy(col("dist_q").desc, col("vec_id").asc)
        .limit(20)
    }, () =>
      // The same full training replay, cut to the 20 farthest-from-own-
      // centroid vectors (dist DESC, id ASC) — the outlier ranking.
      quantKMeansOracleSql(k = 4, iters = 3,
      // final table name supplied by the builder: changing iters at
      // this call site can never silently query a stale round table
      finalSelect = Some(finalTbl =>
        s"""SELECT vec_id, cluster, dist AS dist_q
           |FROM $finalTbl ORDER BY dist_q DESC, vec_id ASC LIMIT 20""".stripMargin))),

    // Interchange-format round trip: embeddings → JSONL → back, then a
    // checksum the oracle recomputes from the source table — a lossy
    // writer, reader, or float re-parse would shift the sums.
    QuerySpec("emb_jsonl_roundtrip", (s, dir) => {
      import s.implicits._
      val src = emb(s, dir).select(col("vec_id").as("id"),
        col("embedding"), lit("""{"tag":"rt"}""").as("metadata"))
        .as[graft.core.VectorRecord]
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_rt_" +
        dirKey(dir)
      graft.io.Formats.writeJsonl(src, out)
      graft.io.Formats.readJsonl(s, out).toDF()
        .agg(count(lit(1)).as("n_rows"),
          sum(col("id")).cast("long").as("id_sum"),
          sum(size(col("embedding"))).cast("long").as("dims_total"),
          sum(floor(element_at(col("embedding"), 1).cast("double") * 1e6).cast("long")).as("first_dim_micro"))
    }, () =>
      // the round trip must preserve every id and every float32 exactly
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |       CAST(sum(len(embedding)) AS BIGINT) AS dims_total,
        |       CAST(sum(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS first_dim_micro
        |FROM embeddings""".stripMargin)
  )
}
