package graft
package queries

import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** The SQL-user surface: each query is one `spark.sql` statement over
  * registered views and functions. Each query is declared next to its
  * DuckDB oracle. */
object SqlQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // The SQL-user surface: the same kNN as knn_exact_top10, written
    // as ONE spark.sql statement over a registered temp view with the
    // registered codegen l2sq function — a user who only speaks SQL
    // gets the identical bounded-heap plan and bit-identical results.
    QuerySpec("sql_knn_top10", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      emb(s, dir).createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
          |FROM embeddings_v e CROSS JOIN
          |     (SELECT embedding AS qe FROM embeddings_v WHERE vec_id = 0) q
          |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // Same oracle as knn_exact_top10 — the SQL surface must produce
      // bit-identical distances through the registered function.
      KnnExactTop10Oracle),

    // SQL-surface text analytics: per-language doc counts + summed
    // micro-quantized quality through the registered lang_id and
    // quality_score kernels — one GROUP BY statement a SQL user would
    // actually write over a curation corpus.
    QuerySpec("sql_lang_quality", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_v")
      s.sql(
        """SELECT lang_id(n) AS lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(CAST(floor(quality_score(n) * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro
          |FROM docs_norm_v
          |GROUP BY lang ORDER BY lang""".stripMargin)
    }, () =>
      // The lang-id CASE twin + the quality formula twin, grouped.
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh,
         |  CAST(len(toks) AS DOUBLE) AS n_tok,
         |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |  CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |    / CAST(len(toks) AS DOUBLE) AS stop
         |  FROM t),
         |l AS (SELECT doc_id,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang,
         |  least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |  (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS q
         |  FROM s)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CAST(floor(q * 1000000.0) AS BIGINT)) AS BIGINT) AS q_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin),

    // SQL-surface retrieval #1: BM25 over the PERSISTED bucketed
    // postings table as ONE spark.sql statement — the token IN filter
    // bucket-prunes the scan exactly like the API path's isin, the
    // corpus stats ride in as literals from the build sidecar, and the
    // scoring SQL mirrors TextAnalysis.bm25ScoreOcc's expression tree
    // term for term (same literals the DuckDB oracle quotes), so a
    // SQL-first user gets bit-identical rankings. Shares
    // doc_bm25_top20's oracle verbatim — the equivalence proof.
    QuerySpec("sql_bm25_topk", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      s.sql(
        s"""WITH occ AS (SELECT doc_id, dl, token, tf FROM graft_post_$key
           |             WHERE token IN ('spark', 'join', 'merge', 'window')),
           |dft AS (SELECT token, count(1) AS dft FROM occ GROUP BY token),
           |comp AS (SELECT doc_id,
           |    CAST(floor(ln(1.0 + (CAST(${stats.nDocs} - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(${stats.sumDl} AS DOUBLE) / CAST(${stats.nDocs} AS DOUBLE))))))
           |      * 1e6) AS BIGINT) AS comp
           |  FROM occ JOIN dft USING (token))
           |SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro, count(1) AS n_terms
           |FROM comp GROUP BY doc_id
           |ORDER BY bm25_micro DESC, doc_id LIMIT 20""".stripMargin)
    }, () =>
      // And the one-statement SQL surface over the same postings table.
      Bm25OracleSql),

    // SQL route for the BATCH BM25 probe (r14 VERDICT task 3): ONE
    // statement serving a whole query TABLE — the query terms are an
    // inline VALUES relation, the union of every query's terms
    // bucket-prunes a single posting probe (the same pruned occ scan
    // as sql_bm25_topk), per-token df is computed once (df is
    // query-independent), and per-query ranking is a window over the
    // (query, doc) score rows — bounded by the probed postings, never
    // corpus-sized. A SQL-first user doing N queries pays ONE probe,
    // not N statements. Shares doc_bm25_batch's oracle and fixture.
    QuerySpec("sql_bm25_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      val qRows = Bm25BatchQueries.flatMap { case (qid, ts) =>
        ts.distinct.map(t => s"(CAST($qid AS BIGINT), ${sqlLit(t)})") }.mkString(", ")
      val allTerms = Bm25BatchQueries.flatMap(_._2).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, token)),
           |occ AS (SELECT doc_id, dl, token, tf FROM graft_post_$key
           |        WHERE token IN ($allTerms)),
           |dft AS (SELECT token, count(1) AS dft FROM occ GROUP BY token),
           |comp AS (SELECT q.query_id, occ.doc_id,
           |    CAST(floor(ln(1.0 + (CAST(${stats.nDocs} - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(${stats.sumDl} AS DOUBLE) / CAST(${stats.nDocs} AS DOUBLE))))))
           |      * 1e6) AS BIGINT) AS comp
           |  FROM occ JOIN dft USING (token) JOIN q USING (token)),
           |scored AS (SELECT query_id, doc_id,
           |    CAST(sum(comp) AS BIGINT) AS bm25_micro, count(1) AS n_terms
           |  FROM comp GROUP BY query_id, doc_id),
           |ranked AS (SELECT *, row_number() OVER
           |    (PARTITION BY query_id ORDER BY bm25_micro DESC, doc_id) AS rank
           |  FROM scored)
           |SELECT query_id, doc_id, bm25_micro, n_terms, rank
           |FROM ranked WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin)
    }, () =>
      // The one-statement SQL route shares the batch fixture and oracle —
      // same pruned-probe arithmetic, same per-query ranking.
      bm25BatchOracleSql(Bm25BatchQueries, topN = 10)),

    // SQL route for the BATCH PHRASE probe (r15 VERDICT task 3): ONE
    // statement serving a whole phrase TABLE — the phrases land as an
    // inline VALUES relation carrying (query_id, token, slot, len),
    // the union of every phrase's terms bucket-prunes ONE positional
    // probe, and an occurrence is a (query, doc, start) group whose
    // matched slots cover the phrase (the k-way pos−slot alignment as
    // a GROUP BY — the same candidate set the API path's equi-join
    // builds). Distinct-term phrases (the fixture's shape; a repeated
    // term would need per-slot multiplicity). Shares doc_phrase_batch's
    // token-slice replay oracle.
    QuerySpec("sql_phrase_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      val qRows = PhraseBatchQueries.flatMap { case (qid, terms) =>
        terms.zipWithIndex.map { case (t, i) =>
          s"(CAST($qid AS BIGINT), ${sqlLit(t)}, $i, ${terms.size})" }
      }.mkString(", ")
      val allTerms = PhraseBatchQueries.flatMap(_._2).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, token, idx, qlen)),
           |occ AS (SELECT token, doc_id, pos FROM graft_pos_$key
           |        WHERE token IN ($allTerms)),
           |starts AS (SELECT q.query_id, occ.doc_id
           |  FROM occ JOIN q USING (token)
           |  GROUP BY q.query_id, q.qlen, occ.doc_id, occ.pos - q.idx
           |  HAVING count(DISTINCT q.idx) = q.qlen)
           |SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
           |FROM starts GROUP BY query_id, doc_id
           |ORDER BY query_id, doc_id""".stripMargin)
    }, () => phraseBatchOracleSql(PhraseBatchQueries)),

    // SQL route for the BATCH SUBSTRING probe (r15 VERDICT task 3):
    // ONE statement serving a needle TABLE — every needle's trigrams
    // ride one inline VALUES relation, their union bucket-prunes ONE
    // trigram-index probe, per-needle AND-intersection cuts candidates
    // from that frame (HAVING count of matched trigrams = the
    // needle's), and a single broadcast join against the normalized
    // corpus verifies every (needle, candidate) pair with the same
    // length arithmetic as the API path. Shares doc_substring_batch's
    // per-needle replay oracle (the match-less needle contributes zero
    // rows on both engines).
    QuerySpec("sql_substring_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_subb_v")
      val triRows = SubstringBatchQueries.flatMap { case (qid, needle) =>
        val tris = needle.sliding(3).toSeq.distinct
        tris.map(t =>
          s"(CAST($qid AS BIGINT), ${sqlLit(t)}, ${tris.size})")
      }.mkString(", ")
      val qnRows = SubstringBatchQueries.map { case (qid, needle) =>
        s"(CAST($qid AS BIGINT), ${sqlLit(needle)}, ${needle.length})"
      }.mkString(", ")
      val allTris = SubstringBatchQueries.flatMap(_._2.sliding(3)).distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH qt AS (SELECT * FROM VALUES $triRows AS qt(query_id, tri, ntris)),
           |qn AS (SELECT * FROM VALUES $qnRows AS qn(query_id, needle, nlen)),
           |cand AS (SELECT qt.query_id, g.doc_id
           |         FROM graft_tri_$key g JOIN qt ON g.tri = qt.tri
           |         WHERE g.tri IN ($allTris)
           |         GROUP BY qt.query_id, g.doc_id
           |         HAVING count(DISTINCT g.tri) = max(qt.ntris)),
           |hits AS (SELECT /*+ BROADCAST(cand) */ c.query_id, d.doc_id,
           |           CAST((length(d.n) - length(replace(d.n, qn.needle, ''))) / qn.nlen AS BIGINT) AS n_hits
           |         FROM docs_norm_subb_v d
           |         JOIN cand c ON c.doc_id = d.doc_id
           |         JOIN qn ON qn.query_id = c.query_id)
           |SELECT query_id, doc_id, n_hits FROM hits WHERE n_hits > 0
           |ORDER BY query_id, doc_id""".stripMargin)
    }, () =>
      // The one-statement SQL batch routes share the API batch oracles
      // verbatim — the equivalence proof (r15 VERDICT task 3).
      substringBatchOracleSql(SubstringBatchQueries)),

    // SQL route for the BATCH PROXIMITY probe: ONE statement serving a
    // term-pair TABLE — the pairs ride an inline VALUES relation, the
    // union of every pair's terms bucket-prunes ONE positional probe,
    // and each pair's min token gap is a three-way join + GROUP BY over
    // that pruned frame (the API path's shape as SQL). Shares
    // doc_proximity_batch's positions-cross-product replay oracle.
    QuerySpec("sql_proximity_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      val qRows = ProximityBatchQueries.map { case (qid, (ta, tb)) =>
        s"(CAST($qid AS BIGINT), ${sqlLit(ta)}, ${sqlLit(tb)})" }.mkString(", ")
      val allTerms = ProximityBatchQueries
        .flatMap { case (_, (a, b)) => Seq(a, b) }.distinct
        .map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH q AS (SELECT * FROM VALUES $qRows AS q(query_id, ta, tb)),
           |occ AS (SELECT token, doc_id, pos FROM graft_pos_$key
           |        WHERE token IN ($allTerms))
           |SELECT q.query_id, a.doc_id,
           |       CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
           |FROM q
           |JOIN occ a ON a.token = q.ta
           |JOIN occ b ON b.token = q.tb AND b.doc_id = a.doc_id
           |GROUP BY q.query_id, a.doc_id
           |ORDER BY query_id, doc_id""".stripMargin)
    }, () =>
      // The one-statement SQL batch route shares the oracle verbatim.
      proximityBatchOracleSql(ProximityBatchQueries)),

    // SQL route for the BATCH IVF probe: the query table's probed
    // clusters are ranked driver-side from the sidecar centroids (a
    // batch-bounded computation, exactly the API path's), inlined as a
    // VALUES relation, and ONE statement reads the UNION of everyone's
    // clusters once (`cluster IN` partition pruning on the layout
    // parquet), keeps each query inside its OWN clusters via
    // array_contains against the broadcast query rows, and ranks with
    // a per-query window over the pruned frame. Shares knn_ivf_batch's
    // layout fixture and exact brute-force oracle.
    QuerySpec("sql_ivf_batch", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") < 3)
        .crossJoin(s.range(10))
        .select((col("vec_id") * 100 + col("id") + lit(4900000L)).as("vec_id"),
          col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "batch"), nlist = 8, maxIter = 3)
      val qcl = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> graft.index.Ivf.probeClustersOf(
          layout.centroids, r.getSeq[Float](1).toArray, 1))
        .toIndexedSeq
      val union = qcl.flatMap(_._2).distinct
      val qcRows = qcl.map { case (qid, cs) =>
        s"(CAST($qid AS BIGINT), array(${cs.mkString(", ")}))" }.mkString(", ")
      s.read.parquet(layout.dir).createOrReplaceTempView("ivf_sqlb_layout_v")
      corpus.createOrReplaceTempView("embeddings_ivfb_v")
      s.sql(
        s"""WITH qc AS (SELECT * FROM VALUES $qcRows AS qc(query_id, qcl)),
           |q AS (SELECT e.vec_id AS query_id, e.embedding AS qe, qc.qcl
           |      FROM embeddings_ivfb_v e JOIN qc ON qc.query_id = e.vec_id),
           |d AS (SELECT q.query_id, t.vec_id, l2sq(t.embedding, q.qe) AS dist
           |      FROM ivf_sqlb_layout_v t JOIN q ON array_contains(q.qcl, t.cluster)
           |      WHERE t.cluster IN (${union.mkString(", ")})),
           |r AS (SELECT query_id, vec_id, dist,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY dist ASC, vec_id ASC) AS rank
           |      FROM d)
           |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
           |ORDER BY query_id ASC, rank ASC""".stripMargin)
    }, () =>
      // Exact per-query brute force over corpus ∪ planted — the pruned
      // batch probe must reproduce the full relation for all 3 queries
      // (shared verbatim by the one-statement SQL route).
      knnIvfBatchOracleSql),

    // SQL route for the BATCH HAMMING probe (r15 VERDICT task 3): a
    // query TABLE of 8-byte signatures served by ONE materialization
    // of the narrow (vec_id, N bit_count columns) frame — CACHE TABLE,
    // the SQL twin of hammingTopKBatch's localCheckpoint — then N
    // codegen TakeOrdered shortlists unioned (the sql_knn_batch
    // device on the binary rung). Shares knn_hamming_batch's
    // relational signature-ranking oracle.
    QuerySpec("sql_hamming_batch", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0),
          graft.index.Binary.signatureOf(r.getSeq[Float](1), thr)))
        .toIndexedSeq
      graft.index.Binary.signaturesFromArtifact(s, artDir)
        .createOrReplaceTempView("binsig_sql_v")
      val hamCols = queries.map { case (qid, qsig) =>
        s"CAST(bit_count(sig ^ ${qsig}L) AS INT) AS _h$qid" }.mkString(", ")
      s.sql("UNCACHE TABLE IF EXISTS binsig_scored_v")
      s.catalog.dropTempView("binsig_scored_v")
      s.sql(s"CACHE TABLE binsig_scored_v AS SELECT vec_id, $hamCols FROM binsig_sql_v")
      val legs = queries.map { case (qid, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, vec_id, _h$qid AS hamming FROM
           |  (SELECT vec_id, _h$qid FROM binsig_scored_v
           |   ORDER BY _h$qid ASC, vec_id ASC LIMIT 10)""".stripMargin
      }.mkString("\nUNION ALL\n")
      val out = s.sql(
        s"""SELECT query_id, vec_id, hamming FROM ($legs)
           |ORDER BY query_id ASC, hamming ASC, vec_id ASC""".stripMargin)
        .localCheckpoint() // pin, then release the cached frame
      s.sql("UNCACHE TABLE IF EXISTS binsig_scored_v")
      s.catalog.dropTempView("binsig_scored_v")
      out
    }, () =>
      // The one-statement SQL batch route shares the oracle verbatim.
      hammingBatchOracleSql),

    // SQL-surface retrieval #2: exact phrase search over the persisted
    // positional index as ONE self-join statement — each leg's token
    // equality bucket-prunes to one bucket, the adjacency condition is
    // the textbook pos+1 intersection. Shares doc_phrase_search's
    // brute-force oracle.
    QuerySpec("sql_phrase_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      s.sql(
        s"""SELECT t0.doc_id AS doc_id, CAST(count(1) AS BIGINT) AS n_occurrences
           |FROM graft_pos_$key t0 JOIN graft_pos_$key t1
           |  ON t0.doc_id = t1.doc_id AND t1.pos = t0.pos + 1
           |WHERE t0.token = 'hash' AND t1.token = 'join'
           |GROUP BY t0.doc_id ORDER BY doc_id""".stripMargin)
    }, () =>
      // The one-statement SQL self-join path: identical rows required.
      PhraseOracleSql),

    // SQL-surface retrieval #3: substring (LIKE '%needle%') search
    // through the trigram index as ONE statement — the AND-intersected
    // candidate CTE reads only the needle trigrams' buckets, broadcast
    // into the corpus scan for exact verification; occurrence count by
    // the same non-overlapping length arithmetic. Shares
    // doc_substring_search's brute-force oracle.
    QuerySpec("sql_substring_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          TextAnalysis.normalizeText(col("text")).as("n"))
        .createOrReplaceTempView("docs_norm_sub_v")
      val needle = "merge batch"
      val tris = needle.sliding(3).toSeq.distinct
      val triList = tris.map(sqlLit).mkString(", ")
      s.sql(
        s"""WITH cand AS (SELECT doc_id FROM graft_tri_$key
           |              WHERE tri IN ($triList)
           |              GROUP BY doc_id HAVING count(DISTINCT tri) = ${tris.size}),
           |hits AS (SELECT /*+ BROADCAST(cand) */ d.doc_id,
           |           CAST((length(d.n) - length(replace(d.n, ${sqlLit(needle)}, ''))) / ${needle.length} AS BIGINT) AS n_hits
           |         FROM docs_norm_sub_v d JOIN cand USING (doc_id))
           |SELECT doc_id, n_hits FROM hits WHERE n_hits > 0 ORDER BY doc_id""".stripMargin)
    }, () =>
      // The one-statement SQL path must reproduce the identical rows.
      SubstringOracleSql),

    // SQL-surface retrieval #4: proximity (within-k) search over the
    // persisted positional index as ONE self-join statement — both
    // term legs bucket-prune to one bucket each, the min token gap is
    // a plain GROUP BY. Shares doc_proximity_search's brute-force
    // positions-cross-product oracle.
    QuerySpec("sql_proximity_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      s.sql(
        s"""SELECT a.doc_id AS doc_id, CAST(min(abs(a.pos - b.pos)) AS INT) AS min_dist
           |FROM graft_pos_$key a JOIN graft_pos_$key b ON a.doc_id = b.doc_id
           |WHERE a.token = 'vector' AND b.token = 'stream'
           |GROUP BY a.doc_id ORDER BY doc_id""".stripMargin)
    }, () =>
      // The one-statement SQL self-join path: identical rows required.
      ProximityOracleSql),

    // SQL-surface entity resolution: the FastSS deletion-neighborhood
    // lookup as ONE spark.sql statement over the PERSISTED signature
    // store ([[graft.ops.FuzzyJoin.ensureFuzzyStore]]'s table — the
    // same artifact the streaming resolver probes). Only the
    // probe-sized side explodes its deletion signatures per statement
    // (pure Spark SQL transform/sequence lambdas — fully codegen, no
    // UDF); the registry leg is a plain scan of the prebuilt posting
    // table, so per-query work scales with the probes, never the
    // registry (the build-once/probe-many contract; previously this
    // statement re-exploded all |registry|·(len+1) signatures per
    // execution). The candidate equi-join broadcasts the probe side;
    // the exact filter is the built-in levenshtein. Shares
    // cust_fuzzy_lookup's BRUTE-FORCE probe×registry oracle, so the
    // hash match is a machine-checked completeness proof of the
    // persisted blocking too.
    QuerySpec("sql_fuzzy_lookup", (s, dir) => {
      tbl(s, dir, "customer").select(col("c_custkey"), col("c_name"))
        .createOrReplaceTempView("cust_fuzzy_v")
      val storeDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_fuzzysql_${dirKey(dir)}"
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        tbl(s, dir, "customer"), storeDir, "c_custkey", "c_name")
      // the MASKED snapshot view, not a raw dir scan: base version ∪
      // committed live deltas − covering tombstones, so the SQL route
      // stays correct on a store that has taken mutations (here the
      // store is pristine and the view IS the plain scan — same plan)
      graft.ops.FuzzyJoin.fuzzyStoreView(s, storeDir)
        .createOrReplaceTempView("cust_fuzzy_store_v")
      s.sql(
        """WITH probes AS (
          |  SELECT c_custkey AS probe_id,
          |         concat(substring(c_name, 1, cpos - 1), CAST(new_d AS STRING),
          |                substring(c_name, cpos + 1, length(c_name))) AS probe_name
          |  FROM (SELECT c_custkey, c_name,
          |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
          |               (CAST(substring(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
          |                  + 1 + c_custkey % 9) % 10 AS new_d
          |        FROM cust_fuzzy_v WHERE c_custkey % 97 = 0)),
          |prb AS (SELECT probe_id, probe_name,
          |          explode(array_union(array(probe_name),
          |            transform(sequence(1, length(probe_name)),
          |              i -> concat(substring(probe_name, 1, i - 1),
          |                          substring(probe_name, i + 1, length(probe_name)))))) AS sig
          |        FROM probes),
          |cand AS (SELECT /*+ BROADCAST(prb) */ DISTINCT
          |           prb.probe_id, prb.probe_name,
          |           reg.store_id AS c_custkey, reg.store_name AS c_name
          |         FROM cust_fuzzy_store_v reg JOIN prb USING (sig))
          |SELECT probe_id, c_custkey,
          |       CAST(levenshtein(probe_name, c_name) AS INT) AS dist
          |FROM cand WHERE levenshtein(probe_name, c_name) <= 1
          |ORDER BY probe_id, c_custkey""".stripMargin)
    }, () =>
      // The one-statement SQL blocking path: identical rows required.
      FuzzyLookupOracleSql),

    // Range search on the SQL surface: ONE spark.sql statement through
    // the registered l2sq codegen kernel — the epsilon-ball WHERE is a
    // plain predicate over the scan (no top-k bound by contract), and
    // the boundary comparison is exact because both engines compute
    // the identical left-associative float64 distance. Shares
    // knn_range's oracle.
    QuerySpec("sql_range_search", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      emb(s, dir).createOrReplaceTempView("embeddings_range_v")
      s.sql(
        """SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
          |FROM embeddings_range_v e CROSS JOIN
          |     (SELECT embedding AS qe FROM embeddings_range_v WHERE vec_id = 0) q
          |WHERE l2sq(e.embedding, q.qe) <= 2.0
          |ORDER BY dist ASC, vec_id ASC""".stripMargin)
    }, () =>
      // The one-statement SQL epsilon-ball through the registered
      // kernel: identical rows and boundary required.
      KnnRangeOracle),

    // SQL route to the persisted SQ8 ANN layout — closing the gap where
    // a SQL-first user could reach the exact scan, the binary table and
    // every text index but not the quantized code layouts. ONE
    // spark.sql statement: the registered sq8_adc kernel (the SAME
    // PqAdcExpr codegen scan as the API path — the table is built at
    // plan time through the shared Sq.adcTableD core) shortlists 200
    // ids over the persisted 4×-compressed codes, and the exact-rerank
    // join touches full-precision vectors for 200 rows only. The
    // bounds/query literals are D-suffixed doubles (exact float64
    // round-trip). Equals exact top-10 (the knn_sq8_rerank contract),
    // so it shares the brute-force oracle.
    QuerySpec("sql_sq8_topk", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val model = graft.index.Sq.modelFromArtifact(s, baseDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      def dArr(a: Array[Double]): String =
        a.map(v => s"${v}D").mkString("array(", ",", ")")
      graft.index.Sq.codesWithDeltas(s, baseDir)
        .createOrReplaceTempView("sq8_codes_v")
      corpus.createOrReplaceTempView("embeddings_sq8_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM sq8_codes_v
           |  ORDER BY sq8_adc(codes, ${dArr(model.vmin.map(_.toDouble))},
           |                   ${dArr(model.vmax.map(_.toDouble))},
           |                   ${dArr(query.map(_.toDouble))}) ASC, vec_id ASC
           |  LIMIT 200)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_sq8_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_sq8_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // The one-statement SQL route over the persisted SQ8 codes: ADC
      // shortlist + exact rerank equals exact top-10 (knn_sq8_rerank's
      // contract), so it shares the brute-force oracle.
      KnnExactTop10Oracle),

    // SQL route for the BATCH SQ8 probe (r14 VERDICT task 3): a query
    // TABLE served by ONE codes materialization — `CACHE TABLE` holds
    // the narrow (vec_id, N adc columns) frame the N shortlist cuts
    // read (the SQL twin of the API's localCheckpoint in
    // Sq.searchRerankBatch; without it Spark inlines the CTE and pays
    // N codes scans), then one statement takes the per-query ADC
    // shortlists, joins the true vectors ONCE for all queries, and
    // ranks with a per-query window over shortlist-bounded rows. Every
    // kernel is the registered codegen sq8_adc/l2sq pair — the same
    // float cores as the API path. Shares knn_sq8_batch's exact
    // brute-force oracle (ADC shortlist 1000 + exact rerank = exact
    // top-10, the same contract).
    QuerySpec("sql_knn_batch", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_sq8_${dirKey(dir)}"
      graft.index.Sq.ensureCodesArtifact(corpus, baseDir)
      val model = graft.index.Sq.modelFromArtifact(s, baseDir)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      def dArr(a: Array[Double]): String =
        a.map(v => s"${v}D").mkString("array(", ",", ")")
      val lo = dArr(model.vmin.map(_.toDouble))
      val hi = dArr(model.vmax.map(_.toDouble))
      graft.index.Sq.codesWithDeltas(s, baseDir)
        .createOrReplaceTempView("sq8_codesb_v")
      corpus.createOrReplaceTempView("embeddings_sq8b_v")
      val adcCols = queries.map { case (qid, q) =>
        s"sq8_adc(codes, $lo, $hi, ${dArr(q.map(_.toDouble))}) AS _d$qid"
      }.mkString(", ")
      s.sql("UNCACHE TABLE IF EXISTS sq8_scored_v")
      s.catalog.dropTempView("sq8_scored_v")
      s.sql(s"CACHE TABLE sq8_scored_v AS SELECT vec_id, $adcCols FROM sq8_codesb_v")
      val shortLegs = queries.map { case (qid, _) =>
        s"""SELECT CAST($qid AS BIGINT) AS query_id, vec_id FROM
           |  (SELECT vec_id FROM sq8_scored_v ORDER BY _d$qid ASC, vec_id ASC LIMIT 1000)""".stripMargin
      }.mkString("\nUNION ALL\n")
      val out = s.sql(
        s"""WITH short AS ($shortLegs),
           |q AS (SELECT vec_id AS query_id, embedding AS qe
           |      FROM embeddings_sq8b_v WHERE vec_id < 3),
           |d AS (SELECT sh.query_id, e.vec_id, l2sq(e.embedding, q.qe) AS dist
           |      FROM short sh
           |      JOIN embeddings_sq8b_v e ON e.vec_id = sh.vec_id
           |      JOIN q ON q.query_id = sh.query_id),
           |r AS (SELECT query_id, vec_id, dist,
           |             row_number() OVER (PARTITION BY query_id
           |               ORDER BY dist ASC, vec_id ASC) AS rank
           |      FROM d)
           |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
           |ORDER BY query_id ASC, rank ASC""".stripMargin)
        // pin the (shortlist-bounded) result, then RELEASE the cached
        // ADC frame — without this the corpus-width materialization
        // lingers in executor memory for the rest of the session
        .localCheckpoint()
      s.sql("UNCACHE TABLE IF EXISTS sq8_scored_v")
      s.catalog.dropTempView("sq8_scored_v")
      out
    }, () =>
      // The SQL batch route shares knn_sq8_batch's contract exactly
      // (ADC shortlist 1000 + exact rerank = exact per-query top-10).
      KnnSq8BatchOracle),

    // SQL route to the persisted IVF layout: ONE spark.sql statement
    // whose `cluster IN (...)` predicate (clusters ranked driver-side
    // from the sidecar centroids, nprobe=1 of 8) is PARTITION PRUNING
    // on the cluster-partitioned parquet — the statement reads 1/8 of
    // the data (plan-pinned by SqlAnnSpec). Same planted-copy
    // construction as knn_ivf_pruned, so the pruned probe still equals
    // the brute-force oracle over the full planted corpus.
    QuerySpec("sql_ivf_topk", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val clusters = graft.index.Ivf.probeClustersOf(layout.centroids, query, 1)
      s.read.parquet(layout.dir).createOrReplaceTempView("ivf_sql_layout_v")
      corpus.createOrReplaceTempView("embeddings_ivfsql_v")
      s.sql(
        s"""SELECT t.vec_id AS vec_id, l2sq(t.embedding, q.qe) AS dist
           |FROM ivf_sql_layout_v t
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_ivfsql_v
           |            WHERE vec_id = 0) q
           |WHERE t.cluster IN (${clusters.mkString(", ")})
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // The one-statement SQL route over the persisted IVF layout: same
      // planted corpus and exact brute force as knn_ivf_pruned (all
      // dist-0 rows share the query's cluster, so the nprobe=1
      // partition-pruned statement reproduces it).
      KnnIvfHnswOracle),

    // SQL route to the PQ code layout — the 32×-compression rung of
    // the quantized SQL family (sql_sq8_topk is the 4× rung): ONE
    // spark.sql statement whose registered pq_adc kernel builds the
    // ADC table at plan time from the literal flattened codebook
    // (through the SAME Pq.adcTableFlat float core as the API path —
    // bit-identical by construction, spec-asserted) and scans the
    // codes with the PqAdcExpr codegen kernel; exact rerank of the
    // 1000-code shortlist equals exact top-10 (knn_pq_rerank's
    // shortlist policy), so it shares the brute-force oracle.
    QuerySpec("sql_pq_topk", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val (cb, enc) = pqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // exact float-widened doubles: the literal round-trips losslessly
      def fArr(a: Array[Float]): String =
        a.map(v => s"${v.toDouble}D").mkString("array(", ",", ")")
      enc.createOrReplaceTempView("pq_codes_v")
      corpus.createOrReplaceTempView("embeddings_pq_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM pq_codes_v
           |  ORDER BY pq_adc(codes, ${fArr(graft.index.Pq.flatCentroids(cb))},
           |                  ${fArr(query)}, 8) ASC, vec_id ASC
           |  LIMIT 1000)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_pq_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_pq_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // The one-statement PQ route converges to the same exact top-10
      // (identical shortlist policy as knn_pq_rerank)
      KnnExactTop10Oracle),

    // SQL route to the OPQ code layout — the SAME registered pq_adc
    // kernel serves it: OPQ's only query-time difference is the
    // learned rotation, applied driver-side to the query before the
    // literal reaches the statement (exactly what the API path's
    // searchOpq does), so the quantized SQL family is now complete
    // (PQ / OPQ / SQ8 / IVF / Hamming / exact / range).
    QuerySpec("sql_opq_topk", (s, dir) => {
      org.apache.spark.sql.graft.GraftFunctions.register(s)
      val corpus = emb(s, dir)
      val (model, enc) = opqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val qRot = graft.index.Pq.rotateQuery(model, query)
      def fArr(a: Array[Float]): String =
        a.map(v => s"${v.toDouble}D").mkString("array(", ",", ")")
      enc.createOrReplaceTempView("opq_codes_v")
      corpus.createOrReplaceTempView("embeddings_opq_v")
      s.sql(
        s"""WITH short AS (
           |  SELECT vec_id FROM opq_codes_v
           |  ORDER BY pq_adc(codes, ${fArr(graft.index.Pq.flatCentroids(model.cb))},
           |                  ${fArr(qRot)}, 8) ASC, vec_id ASC
           |  LIMIT 1000)
           |SELECT e.vec_id AS vec_id, l2sq(e.embedding, q.qe) AS dist
           |FROM embeddings_opq_v e
           |JOIN short USING (vec_id)
           |CROSS JOIN (SELECT embedding AS qe FROM embeddings_opq_v
           |            WHERE vec_id = 0) q
           |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // The one-statement OPQ route converges to the same exact top-10
      // (rotation applied driver-side; identical shortlist policy)
      KnnExactTop10Oracle),

    // The SQL surface over the persisted binary signatures: ONE
    // statement — bit_count(sig ^ qsig) over the 8-byte/row table,
    // bounded TakeOrdered — with the query signature computed by the
    // same driver-side twin and inlined as a literal. Shares
    // knn_hamming_top10's oracle (bit-identical distances required).
    QuerySpec("sql_hamming_top10", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val qsig = graft.index.Binary.signatureOf(q, thr)
      graft.index.Binary.signaturesFromArtifact(s, artDir)
        .createOrReplaceTempView("binsig_v")
      s.sql(
        s"""SELECT vec_id, CAST(bit_count(sig ^ ${qsig}L) AS INT) AS hamming
           |FROM binsig_v
           |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin)
    }, () =>
      // The one-statement SQL path over the persisted signatures must
      // reproduce the identical ranking and distances.
      KnnHammingTop10Oracle)
  )
}
