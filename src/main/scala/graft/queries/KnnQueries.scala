package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.VectorSearch

/** Vector search: exact, range, ANN (IVF, HNSW, LSH, PQ/OPQ, SQ8,
  * binary) and their mutable-store probes. Each query is declared
  * next to its DuckDB oracle. */
object KnnQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // O7 search (exact path): k-NN top-k by squared L2, nearest-first,
    // tie-break by id (SURVEY §2.3; reference vectordb.cpp:120-156).
    QuerySpec("knn_exact_top10", (s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.knnExactDf(corpus, query, k = 10)
    }, () => KnnExactTop10Oracle),

    // RANGE (radius) search — FAISS range_search: every vector within
    // squared-L2 <= 2.0 of query vec 0, nearest-first. No top-k bound:
    // the result is selectivity-sized by contract (epsilon-ball dup
    // detection / recall harvesting). One narrow codegen scan; the
    // boundary comparison is exact because both engines compute the
    // identical left-associative float64 distance.
    QuerySpec("knn_range", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.rangeSearch(e, q, radiusSq = 2.0)
    }, () =>
      // The epsilon-ball with the exact kernel arithmetic; the <= 2.0
      // boundary is bit-exact on both engines (identical left-assoc
      // float64 distance), so membership can never disagree.
      KnnRangeOracle),

    // BATCH SQ8 probe — N queries served by ONE pass over the 4×-
    // compressed codes: the scan computes one codegen ADC column per
    // query, stack unpivots, one bounded window cuts per-query
    // shortlists (identical to each single-probe shortlist by
    // construction), and the exact rerank joins the true vectors once
    // for all queries. With the true neighbors inside every shortlist
    // the result equals per-query exact top-10, which the oracle
    // replays for all three queries.
    QuerySpec("knn_sq8_batch", (s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = sqIndex(dir, corpus)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      graft.index.Sq.searchRerankBatch(enc, corpus, model, queries,
        k = 10, shortlist = 1000)
    }, () =>
      // Exact per-query brute force — the one-scan batch ADC + rerank
      // must reproduce the full relation for all 3 queries.
      KnnSq8BatchOracle),

    // BATCH IVF probe — a query table served by ONE partition-pruned
    // scan (the IVF twin of knn_hnsw_batch): three queries' probed
    // clusters union into a single `cluster IN` read, a broadcast
    // pair-predicate keeps each query inside its OWN probed clusters,
    // and per-query top-10 runs through the bounded TopKAggregator.
    // Ten exact copies of each query are planted so every true top-10
    // lives in its query's nprobe=1 cluster — the pruned batch result
    // EQUALS per-query exact brute force, which the oracle replays.
    QuerySpec("knn_ivf_batch", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") < 3)
        .crossJoin(s.range(10))
        .select((col("vec_id") * 100 + col("id") + lit(4900000L)).as("vec_id"),
          col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "batch"), nlist = 8, maxIter = 3)
      val queries = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.index.Ivf.searchLayoutBatch(s, layout, queries, k = 10, nprobe = 1)
    }, () => knnIvfBatchOracleSql),

    // Extension: batch k-NN similarity join (3 query vectors × corpus,
    // broadcast query side, per-query windowed top-k).
    QuerySpec("knn_join_top5", (s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnJoin(queries, corpus, k = 5)
    }, () => KnnJoinTop5Oracle),

    // Same batch kNN join via the bounded TopKAggregator (map-side
    // partial aggregation: shuffle is |partitions|×|Q|×k instead of
    // |corpus|×|Q|) — same oracle as the window form.
    QuerySpec("knn_join_agg_top5", (s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnJoinAgg(queries, corpus, k = 5)
    }, () => KnnJoinTop5Oracle),

    // Hard-negative mining (ANCE-style): per anchor, the 5 nearest
    // corpus rows with a DIFFERENT label. The label predicate sits
    // under the bounded top-k aggregation — a post-filter over an
    // unconstrained top-k would come up short whenever same-label rows
    // crowd the front (they do: the fixture clusters BY label).
    QuerySpec("knn_hard_negatives", (s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding", "label")
      val queries = corpus
        .filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"),
          col("label").as("q_label"))
      VectorSearch.hardNegatives(queries, corpus, k = 5)
    }, () =>
      // Brute force with the label inequality applied BEFORE ranking —
      // equivalent to the filtered bounded aggregation.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
         |           FROM embeddings WHERE vec_id < 3),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q WHERE e.label <> q.ql),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 5
         |ORDER BY query_id ASC, rank ASC""".stripMargin),

    // k-NN majority-vote classification: the labeled-corpus read path
    // (weak labeling / tag suggestion). Bounded-agg neighbors, neighbor
    // table broadcast back for labels, deterministic vote tie-break.
    QuerySpec("knn_classify", (s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      VectorSearch.knnClassify(queries, corpus, k = 10)
        .orderBy(col("query_id"))
    }, () =>
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id,
         |             row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
         |      FROM d),
         |nn AS (SELECT query_id, vec_id FROM r WHERE rank <= 10),
         |v AS (SELECT nn.query_id, e.label, CAST(count(*) AS BIGINT) AS votes
         |      FROM nn JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |t AS (SELECT query_id, label, votes,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label ASC) AS INTEGER) AS rn,
         |        CAST(sum(votes) OVER (PARTITION BY query_id) AS BIGINT) AS n_neighbors
         |      FROM v)
         |SELECT query_id, label AS pred_label, votes, n_neighbors FROM t
         |WHERE rn = 1 ORDER BY query_id""".stripMargin),

    // Approximate batch kNN join (LSH-bucketed candidates — the scale
    // path when the query side is too large to broadcast), declared as a
    // single-row INVARIANT summary: every reported distance must equal
    // the recomputed exact distance, lie within the search radius, and
    // rank consistently with the engine's (dist, id) order, with at most
    // k rows per query. Those counts are 0/5 regardless of which
    // candidates LSH surfaces, so the oracle pins them as constants;
    // recall vs the exact join is pinned separately in AnnSpec.
    QuerySpec("knn_join_approx", (s, dir) => {
      val corpus = emb(s, dir)
      val queries = corpus.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val model = graft.index.Ann.fit(corpus)
      val approx = graft.index.Ann.knnJoinApprox(model, queries, corpus, k = 5, maxDistance = 2.0)
      val checked = approx
        .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
        .join(queries, "query_id")
        .withColumn("true_dist", graft.functions.Distances.l2Sq(col("q_embedding"), col("embedding")))
        .withColumn("rank_check", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("dist").asc, col("vec_id").asc)))
      checked.agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("dist") > lit(2.0 * 2.0), 1L).otherwise(0L)).as("out_of_radius"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 5, 1L).otherwise(0L)).as("over_k"))
    }, () =>
      // The invariant counts hold for ANY candidate set the LSH index
      // surfaces (distances recomputed exactly, radius respected, ranks
      // consistent, ≤ k per query), so the expected summary is constant.
      """SELECT CAST(5 AS BIGINT) AS n_queries, CAST(0 AS BIGINT) AS bad_dist,
        |       CAST(0 AS BIGINT) AS out_of_radius, CAST(0 AS BIGINT) AS rank_violations,
        |       CAST(0 AS BIGINT) AS over_k""".stripMargin),

    // BATCHED Hamming search — N query signatures through ONE pass
    // over the persisted 8-byte signature table (the binary rung of
    // the batch family, the SQ8 batch device): the scan computes N
    // bit_count columns into a narrow frame materialized once, then N
    // codegen TakeOrdered cuts. The oracle replays each query's
    // signature ranking relationally.
    QuerySpec("knn_hamming_batch", (s, dir) => {
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
      graft.index.Binary.hammingTopKBatch(
        graft.index.Binary.signaturesFromArtifact(s, artDir), queries, 10)
    }, () =>
      // Each query's signature ranking replayed relationally over the
      // shared signature CTEs — the one-scan batch must reproduce all
      // three rankings.
      hammingBatchOracleSql),

    // Brute-force cosine top-k (ANN baseline).
    QuerySpec("knn_cosine_top10", (s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.cosineTopKDf(corpus, query, k = 10)
    }, () =>
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id,
         |       (${dotSql("e.embedding", "q.qe")})
         |         / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS cos_sim
         |FROM embeddings e CROSS JOIN q
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin),

    // IVF with an exhaustive probe (nprobe = nlist): partition-pruned
    // scan plus the exact kernel, so the result equals exact kNN and the
    // oracle can hash-match it. The index BUILD is not part of the query:
    // the partitioned layout + centroid sidecar persist under the temp
    // area and later invocations (bench iterations, reruns) only probe —
    // unlike the reference, which refits its index per query
    // (vectordb.cpp:216-217).
    QuerySpec("knn_ivf_top10", (s, dir) => {
      val corpus = emb(s, dir)
      val layout = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "full"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 8)
    }, () => KnnExactTop10Oracle),

    // IVF with a REAL pruned probe (nprobe = 1 of 8): the corpus plants
    // ten exact copies of the query vector, so the true top-10 is the
    // dist-0 set (self + nine lowest-id copies), every member of which
    // the quantizer provably co-locates in the query's own cluster —
    // the pruned probe reads 1/8 of the data and still hash-matches the
    // brute-force exact oracle.
    QuerySpec("knn_ivf_pruned", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }, () => KnnIvfHnswOracle),

    // IVF with an HNSW COARSE QUANTIZER (the FAISS IVF*_HNSW
    // composition): the probed clusters come from a graph walk over
    // the centroids instead of the linear argmin — the production
    // shape when nlist ~ 1M (sqrt-n lists over a 100 TB corpus) makes
    // the centroid scan itself the bottleneck. Same planted-copy
    // construction and the same partition-pruned nprobe=1 data scan as
    // knn_ivf_pruned; the graph must pick the identical top-1 cluster
    // for the hash to match.
    QuerySpec("knn_ivf_hnsw", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(2000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "pruned"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutHnswCoarse(s, layout, query, k = 10, nprobe = 1)
    }, () =>
      // Same exact brute force as knn_ivf_pruned: the HNSW coarse
      // quantizer must route to the identical top-1 cluster.
      KnnIvfHnswOracle),

    // Spilled IVF (ScaNN-style multi-assignment): every row lands in
    // its 2 nearest inverted lists, so boundary-straddling neighbors
    // are findable at the SAME nprobe — 2× layout storage traded for
    // read-side recall (quantified in the bench recall report). The
    // planted dist-0 copies land top-1 in the query's own cluster, the
    // nprobe=1 probe finds them all, and multi-assignment duplicates
    // collapse before the heap — the result must hash-match the
    // brute-force oracle over the union corpus.
    QuerySpec("knn_ivf_spill_top10", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(3000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val index = graft.index.Ivf.fit(full, nlist = 8, maxIter = 3)
      val spilled = graft.index.Ivf.assignSpilled(index, full, spill = 2)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchSpilled(index, spilled, query, k = 10, nprobe = 1)
    }, () =>
      // Exact brute force over the same planted corpus — the nprobe=1
      // probe must reproduce it because all dist-0 rows share the query's
      // cluster.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 3000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Hybrid (filtered) IVF probe: ten dist-0 copies of the query
    // planted WITH the target label fill the filtered top-10 and share
    // the probed cluster by construction, so the nprobe=1 pruned +
    // label-pushed scan must reproduce the brute-force filtered oracle.
    // IO is multiplicative: partition pruning × PushedFilters
    // (plan-audit-pinned).
    QuerySpec("knn_ivf_hybrid", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(5000000L)).as("vec_id"), col("embedding"),
          lit(3).as("label"))
      val full = corpus.select(col("vec_id"), col("embedding"), col("label"))
        .union(planted)
      val layout = graft.index.Ivf.buildLayout(s, full,
        ivfLayoutDir(dir, "hybrid"), nlist = 8, maxIter = 3)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayoutWhere(s, layout, query, k = 10, nprobe = 1,
          col("label") === 3)
        .select(col("vec_id"), col("dist"))
    }, () =>
      // Brute force over (corpus ∪ planted label-3 copies) restricted to
      // the label — the pruned, filter-pushed probe must reproduce it.
      s"""WITH c AS (SELECT vec_id, embedding, label FROM embeddings
         |           UNION ALL
         |           SELECT 5000000 + r.i AS vec_id, e.embedding, 3 AS label
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |WHERE c.label = 3
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Incremental IVF maintenance (O2 add at the index level): ten exact
    // copies of the query append into a throwaway copy of the cached
    // base layout — assignByCentroids uses the probe's own double
    // arithmetic, so every appended copy provably lands in the probe's
    // top-1 cluster, and the nprobe=1 search of the appended layout must
    // reproduce the brute-force oracle over corpus ∪ appended. The
    // timing intentionally covers append + probe: append IS the
    // operator (the base build stays cached, like the other IVF rows).
    QuerySpec("knn_ivf_append", (s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val tmp = freshScratchDir(dir, "appendwork")
      copyDir(base.dir, tmp)
      val layout = graft.index.Ivf.loadLayout(tmp)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(10))
        .select((col("id") + lit(4000000L)).as("vec_id"), col("embedding"), col("label"))
      graft.index.Ivf.appendToLayout(layout, planted)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }, () =>
      // Exact brute force over corpus ∪ the ten appended copies: the
      // nprobe=1 probe of the APPENDED layout must reproduce it (all
      // eleven dist-0 rows share the probed cluster by construction).
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Index-maintenance DELETE (the triad's third leg, and the
    // reference behavior we deliberately DON'T reproduce: its HNSW
    // serves deleted ids until a manual rebuild — SURVEY §5). 15 copies
    // of the query vector appended, 5 tombstoned; the nprobe=1 probe
    // must return only live rows: the query's own cluster holds 11
    // dist-0 rows after the delete, so the layout top-10 equals the
    // global brute force the oracle runs over corpus ∪ planted \ deleted.
    QuerySpec("knn_ivf_delete", (s, dir) => {
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val tmp = freshScratchDir(dir, "deletework")
      copyDir(base.dir, tmp)
      val layout = graft.index.Ivf.loadLayout(tmp)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(15))
        .select((col("id") + lit(4100000L)).as("vec_id"), col("embedding"), col("label"))
      graft.index.Ivf.appendToLayout(layout, planted)
      graft.index.Ivf.deleteFromLayout(layout,
        s.range(5).select((col("id") + lit(4100000L)).as("vec_id")))
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ivf.searchLayout(s, layout, query, k = 10, nprobe = 1)
    }, () =>
      // Corpus ∪ 15 planted copies minus the 5 deleted: after the delete
      // 11 rows sit at dist 0 (the original + 10 surviving copies), so
      // the probed-cluster top-10 IS the global top-10 the brute force
      // returns — a resurrected tombstone would hash-mismatch here.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 4100000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(15) r(i) WHERE e.vec_id = 0),
         |live AS (SELECT * FROM c WHERE vec_id NOT BETWEEN 4100000 AND 4100004),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT live.vec_id AS vec_id, ${l2SqSql("live.embedding", "q.qe")} AS dist
         |FROM live CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Product quantization + exact re-rank: the corpus is compressed to
    // 8 one-byte codes per vector (32× smaller — the memory-side scale
    // path for 100 TB ANN), ADC scans the codes for a 200-candidate
    // shortlist, and the exact kernel re-ranks the shortlist. With the
    // true neighbours inside the shortlist the result EQUALS exact
    // top-10, so the brute-force oracle hash-matches it. Codebooks are
    // memoized per scale factor (build once, query many).
    QuerySpec("knn_pq_rerank", (s, dir) => {
      val corpus = emb(s, dir)
      val (cb, enc) = pqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // shortlist 1000: at sf0.1 the corpus is 10x sf0.01 and a 200-code
      // ADC shortlist started missing true top-10 neighbors (caught by a
      // full sf0.1 oracle sweep); the shortlist must grow with the
      // corpus for the rerank-equals-exact contract to hold
      graft.index.Pq.searchRerank(enc, corpus, cb, query, k = 10, shortlist = 1000)
    }, () =>
      // PQ + re-rank converges to exact top-10, so it shares the exact
      // brute-force oracle
      KnnExactTop10Oracle),

    // OPQ (learned-rotation PQ, Ge et al. CVPR'13) + re-rank: same code
    // size and ADC scan as knn_pq_rerank, but the rotation re-balances
    // subspace variance so the raw ADC ordering recalls more of the
    // true top-k wherever the corpus has correlation structure to
    // exploit (measured, bench recall report: 0.37 → 0.51 at sf0.001;
    // 0.37 → 0.40 at the more isotropic sf0.1 — never below plain PQ).
    // Same 1000-code shortlist policy; rerank-equals-exact is
    // oracle-verified at 1×/10×/100× corpus (sf0.001/0.01/0.1), so it
    // shares the brute-force oracle.
    QuerySpec("knn_opq_rerank", (s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = opqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Pq.rerankShortlist(
        graft.index.Pq.searchOpq(enc, model, query, k = 1000),
        corpus, query, k = 10)
    }, () =>
      // OPQ + re-rank converges to the same exact top-10 (the rotation
      // only changes the shortlist's internal order, and 1000 codes cover
      // the true neighbors with margin — measured ADC recall ≥ plain PQ's
      // at every SF)
      KnnExactTop10Oracle),

    // Scalar quantization (SQ8) + exact re-rank: the 4×-compression
    // rung of the quantization ladder (1-bit 64× < PQ/OPQ 32× < SQ8 4×
    // < exact) — per-dimension min/max linear byte codes, ADC scan
    // through the SAME codegen table-lookup kernel as PQ (m = dim,
    // k = 256), exact re-rank of the shortlist. SQ8's distortion is
    // low enough (measured recall: bench `sq8_adc_at10`) that a small
    // shortlist recovers exact top-10, so it shares the brute-force
    // oracle. The fit is ONE exact distributed min/max aggregation —
    // seedless, sampleless, bit-reproducible.
    QuerySpec("knn_sq8_rerank", (s, dir) => {
      val corpus = emb(s, dir)
      val (model, enc) = sqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Sq.searchRerank(enc, corpus, model, query, k = 10,
        shortlist = 200)
    }, () =>
      // SQ8 + re-rank converges to exact top-10 too (4× compression
      // keeps per-dimension resolution, so a 200-code shortlist covers
      // the true neighbors with wide margin — measured ADC recall in the
      // bench record's sq8_adc_at10)
      KnnExactTop10Oracle),

    // TAKEDOWN leg for the persisted SQ8 code store (the reference's
    // O5 extended to the quantized index): the query's three nearest
    // non-self neighbors are tombstoned (tag-keyed batch write, codes
    // untouched, model untouched — the trained-index contract), five
    // planted copies of the query append UNDER A LATER TAG (so the
    // tombstone does not cover them), and the masked delta-aware ADC +
    // exact rerank must equal exact top-10 over the post-delete ∪
    // planted corpus — which is precisely what the oracle rebuilds
    // from scratch.
    QuerySpec("knn_sq8_delete", (s, dir) => {
      val corpus = emb(s, dir)
      val key = dirKey(dir)
      val sqDir = s"${System.getProperty("java.io.tmpdir")}/graft_sq8del_$key"
      graft.index.Sq.ensureCodesArtifact(corpus, sqDir)
      graft.index.Sq.dropMutations(sqDir) // replay determinism
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // bounded: the exact top-4 comes back, self drops out -> 3 ids
      val delIds = VectorSearch.knnExact(corpus, query.toSeq, 4)
        .select(col("vec_id")).collect().map(_.getLong(0))
        .filter(_ != 0L).toIndexedSeq
      graft.index.Sq.deleteVectors(s, sqDir,
        corpus.filter(col("vec_id").isin(delIds: _*)), tag = "del")
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(5))
        .select((col("id") + lit(4600000L)).as("vec_id"), col("embedding"))
      graft.index.Sq.appendDelta(s, sqDir, planted, tag = "re")
      val model = graft.index.Sq.modelFromArtifact(s, sqDir)
      val live = corpus.select(col("vec_id"), col("embedding"))
        .filter(!col("vec_id").isin(delIds: _*))
        .unionAll(planted)
      graft.index.Sq.searchRerank(
        graft.index.Sq.codesWithDeltas(s, sqDir), live, model, query,
        k = 10, shortlist = 1000)
    }, () =>
      // From-scratch exact top-10 over (corpus − the query's 3 nearest
      // non-self neighbors) ∪ 5 planted copies appended AFTER the
      // delete: the masked SQ8 ADC + exact rerank must reproduce it.
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dists AS MATERIALIZED (
         |  SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |  FROM embeddings e CROSS JOIN q),
         |del AS (SELECT vec_id FROM dists WHERE vec_id <> 0
         |        ORDER BY dist ASC, vec_id ASC LIMIT 3),
         |c AS (SELECT e.vec_id, e.embedding FROM embeddings e
         |      WHERE e.vec_id NOT IN (SELECT vec_id FROM del)
         |      UNION ALL
         |      SELECT 4600000 + r.i AS vec_id, e.embedding
         |      FROM embeddings e CROSS JOIN range(5) r(i) WHERE e.vec_id = 0)
         |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |FROM c CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Recall-targeted index selection ("give me ≥0.9 recall@10 at
    // minimum probe cost"): AnnSelector MEASURES the recall/scan-cost
    // frontier of every approximate config (LSH, pruned IVF at several
    // nprobe, spill-2) against a distributed exact ground truth, then
    // picks the cheapest config clearing the target — the accuracy
    // envelope the reference's fixed HNSW(16,200,200) parameters give
    // implicitly, made explicit and measured. The summary row pins the
    // contract: k rows returned, the self-query found at rank 1 (an
    // exact copy is a guaranteed candidate under every config), the
    // selected config's measured recall clears 0.9, and its measured
    // scan cost is strictly below the exact scan. Bucket/probe choices
    // are not SQL-expressible, so the oracle pins the invariant
    // constants (same device as knn_lsh_check).
    QuerySpec("knn_at_recall", (s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      // the frontier measurement (ground truth + every config's probe)
      // is a BUILD step like the PQ/IVF fits: seeded and deterministic,
      // so it memoizes per sf-dir — repeat queries pay one bounded
      // search under the already-selected config, not a re-measurement
      val (lshModel, ivfIndex, frontier) = selectorCache.computeIfAbsent(dir, { _ =>
        val b = graft.index.AnnSelector.build(corpus, nQueries = 10, k = 10, nlist = 8)
        try (b.lshModel, b.ivfIndex, b.frontier) finally b.release()
      })
      val built = graft.index.AnnSelector.fromParts(corpus, lshModel, ivfIndex, frontier)
      val point = graft.index.AnnSelector.select(built, 0.9)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.AnnSelector.search(built, corpus, point, query, k = 10)
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("vec_id") === 0 && col("dist") === 0.0, 1L).otherwise(0L))
            .as("self_found"))
        .select(col("n_rows"), col("self_found"),
          lit(if (point.recall >= 0.9) 1L else 0L).as("recall_ok"),
          lit(if (point.scanFrac < 1.0) 1L else 0L).as("cheaper"))
    }, () =>
      // Invariant summary (selection itself is not SQL-expressible): the
      // self-query is a guaranteed dist-0 candidate under every config,
      // the selector must find a ≥0.9-recall config cheaper than the
      // exact scan on this corpus (spill-2/IVF probes measure well under
      // it at every tested SF), and k rows come back.
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS self_found,
        |       CAST(1 AS BIGINT) AS recall_ok, CAST(1 AS BIGINT) AS cheaper""".stripMargin),

    // The nprobe RECALL CURVE, measured and selected over (r14 VERDICT
    // task 5): ivf and ivfsq recall@10 at nprobe ∈ {1,2,4,8} — the
    // curve the bench records per round — plus the cheapest-meeting
    // selection at target 0.9. The output is the curve's INVARIANTS
    // (the selection itself is not SQL-expressible; the values land in
    // BENCH_DETAIL's recall dict): candidate sets at larger nprobe are
    // supersets (probed lists are rank-prefixes), so ivf recall is
    // MONOTONE in nprobe and exactly 1.0 at nprobe = nlist; ivfsq
    // ranks the same pruned candidates by ADC so it can only lose true
    // neighbors (ivfsq ≤ ivf pointwise); the selected point must meet
    // the target, nothing cheaper on the curve may meet it, and a
    // probe under the selected config must find the self-query at
    // distance 0.
    QuerySpec("knn_curve_select", (s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val curve = curveCache.computeIfAbsent(dir, _ =>
        graft.index.Recall.ivfCurve(corpus, nQueries = 10, k = 10, nlist = 8))
      val byNp = curve.groupBy(_.family).map { case (f, ps) =>
        f -> ps.sortBy(_.nprobe) }
      val ivf = byNp("ivf")
      val ivfsq = byNp("ivfsq")
      def monotone(ps: Seq[graft.index.Recall.CurvePoint]): Boolean =
        ps.zip(ps.drop(1)).forall { case (a, b) => a.recall <= b.recall }
      val chosen = graft.index.Recall.selectFromCurve(curve, 0.9)
      val meets = chosen.exists(_.recall >= 0.9)
      val cheapestOk = chosen.exists(c =>
        !curve.exists(p => p.costFrac < c.costFrac && p.recall >= 0.9))
      // end-to-end: probe the self-query under the selected config
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val ivfIndex = graft.index.Ivf.fit(corpus, nlist = 8, maxIter = 3)
      val assigned = graft.index.Ivf.assign(ivfIndex, corpus)
        .select("vec_id", "embedding", "cluster")
      val np = chosen.map(_.nprobe).getOrElse(8)
      val selfFound = chosen.map { c =>
        val cands =
          if (c.family == "ivf")
            graft.index.Ivf.search(ivfIndex, assigned, query, 10, np)
          else {
            val m = graft.index.Sq.fit(corpus)
            val probed = graft.index.Ivf.probeClusters(ivfIndex, query, np)
            val enc = assigned.select(col("vec_id"), col("cluster"))
              .join(graft.index.Sq.encode(corpus, m), "vec_id")
            graft.index.Sq.search(
              enc.filter(col("cluster").isin(probed: _*)), m, query, 10)
          }
        cands.filter(col("vec_id") === 0).count() == 1L
      }.getOrElse(false)
      import s.implicits._
      Seq((
        curve.size.toLong,
        if (monotone(ivf)) 1L else 0L,
        if (ivf.last.nprobe == 8 && ivf.last.recall == 1.0) 1L else 0L,
        if (ivf.zip(ivfsq).forall { case (a, b) => b.recall <= a.recall }) 1L else 0L,
        if (meets) 1L else 0L,
        if (cheapestOk) 1L else 0L,
        if (selfFound) 1L else 0L
      )).toDF("n_points", "ivf_monotone", "ivf_full_exact", "ivfsq_le_ivf",
        "chosen_meets", "chosen_cheapest", "self_found")
    }, () =>
      // Curve invariants (the curve VALUES live in the bench recall
      // dict; selection itself is not SQL-expressible): 8 points, ivf
      // monotone in nprobe with exactly 1.0 at nprobe = nlist, ivfsq
      // bounded by ivf pointwise, the selected point meets 0.9 with
      // nothing cheaper meeting it, and the self-query probes back at
      // distance 0 under the selected config.
      """SELECT CAST(8 AS BIGINT) AS n_points, CAST(1 AS BIGINT) AS ivf_monotone,
        |       CAST(1 AS BIGINT) AS ivf_full_exact, CAST(1 AS BIGINT) AS ivfsq_le_ivf,
        |       CAST(1 AS BIGINT) AS chosen_meets, CAST(1 AS BIGINT) AS chosen_cheapest,
        |       CAST(1 AS BIGINT) AS self_found""".stripMargin),

    // IVF snapshot pinning (r15 VERDICT task 1) as a declared query:
    // a delta-aware probe is BUILT, then a delete + FOLD COMMIT land
    // on the layout (previously the engine's one stop-the-world op),
    // then the probe executes — it must serve the WHOLLY-OLD state
    // (the deleted ids still ranked; old manifest files + delta leg
    // intact under lagged GC), while a fresh probe serves wholly-new =
    // exact top-k over the survivor union. The summary pins both, as
    // provable invariants (the knn_curve_select device).
    QuerySpec("knn_ivf_pinned", (s, dir) => {
      import s.implicits._
      val corpus = emb(s, dir)
      val base = graft.index.Ivf.buildLayout(s, corpus,
        ivfLayoutDir(dir, "appendbase"), nlist = 8, maxIter = 3)
      val scratch = freshScratchDir(dir, "pinivf")
      val layoutDir = s"$scratch/layout"
      copyDir(base.dir, layoutDir)
      val layout = graft.index.Ivf.loadLayout(layoutDir)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // 12 exact copies: after two deletes, self + 10 survivors at
      // distance 0 fill the whole top-10 INSIDE the probed cluster, so
      // the nprobe=1 probe provably equals exact over the union
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(12))
        .select((col("id") + lit(5600000L)).as("vec_id"), col("embedding"),
          col("label"))
      graft.index.Ivf.appendDelta(layout, planted, tag = "pin_a1")
      def probeDf() = graft.index.Ivf.searchLayoutDeltaAware(
        s, layout, query, k = 10, nprobe = 1)
      def rows(df: DataFrame) = df.select("vec_id", "dist")
        .as[(Long, Double)].collect().toSeq
      val wantOld = rows(probeDf())
      val pinnedProbe = probeDf() // built now, executed after the commits
      // a delete + FOLD commit interleave mid-probe
      graft.index.Ivf.deleteFromLayout(layout,
        Seq(5600001L, 5600002L).toDF("vec_id"), tag = "pin_d1")
      graft.index.Ivf.compactDeltas(s, layout)
      val pinnedServesOld = rows(pinnedProbe) == wantOld
      val fresh = rows(probeDf())
      val survivors = corpus.select(col("vec_id"), col("embedding"))
        .unionByName(planted.select(col("vec_id"), col("embedding"))
          .filter(!col("vec_id").isin(5600001L, 5600002L)))
      val freshServesNew = fresh == rows(graft.ops.VectorSearch
        .knnExact(survivors, query.toSeq, 10))
      Seq((
        wantOld.size.toLong,
        if (wantOld.map(_._1).contains(5600001L)) 1L else 0L,
        if (pinnedServesOld) 1L else 0L,
        if (!fresh.exists(r => r._1 == 5600001L || r._1 == 5600002L)) 1L else 0L,
        if (freshServesNew) 1L else 0L
      )).toDF("n_rows", "delta_probed", "pinned_serves_old",
        "deleted_hidden", "fresh_serves_new")
    }, () =>
      // Snapshot-pin invariants are provable for ANY corpus (wholly-old
      // serving across the commit, wholly-new = exact over survivors),
      // so the expected summary is constant (the knn_lsh_check device).
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(1 AS BIGINT) AS delta_probed,
        |       CAST(1 AS BIGINT) AS pinned_serves_old,
        |       CAST(1 AS BIGINT) AS deleted_hidden,
        |       CAST(1 AS BIGINT) AS fresh_serves_new""".stripMargin),

    // Selector-routed BATCH ANN: a query TABLE (the 12 lowest-id
    // corpus vectors — planted exact copies, so the oracle can demand
    // self-retrieval) served under the recall-targeted config the
    // measured frontier selects, through the batch path: per-query
    // probe clusters from a broadcast centroid rank, probe table
    // broadcast INTO the assignment scan (corpus never shuffled —
    // plan-pinned in AnnSelectorSpec), bounded TopKAggregator per
    // query. Self-retrieval at dist 0 for every query plus full k rows
    // is the per-query invariant the oracle checks.
    QuerySpec("knn_batch_at_recall", (s, dir) => {
      val corpus = emb(s, dir).select("vec_id", "embedding")
      val (lshModel, ivfIndex, frontier) = selectorCache.computeIfAbsent(dir, { _ =>
        val b = graft.index.AnnSelector.build(corpus, nQueries = 10, k = 10, nlist = 8)
        try (b.lshModel, b.ivfIndex, b.frontier) finally b.release()
      })
      val built = graft.index.AnnSelector.fromParts(corpus, lshModel, ivfIndex, frontier)
      val point = graft.index.AnnSelector.select(built, 0.9)
      val queries = corpus.orderBy(col("vec_id").asc).limit(12)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      graft.index.AnnSelector.searchBatch(built, corpus, point, queries, k = 10)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("vec_id") === col("query_id") && col("dist") === 0.0, 1L)
            .otherwise(0L)).as("self_found"))
        .orderBy(col("query_id"))
    }, () =>
      // Per-query invariants of the batch path: every planted-copy query
      // must come back with a full k rows and find itself at distance 0
      // under ANY ≥0.9-recall config (the selected config probes the
      // query's own cluster first / its own hash bucket by construction).
      """SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS n_rows,
        |       CAST(1 AS BIGINT) AS self_found
        |FROM embeddings ORDER BY vec_id LIMIT 12""".stripMargin),

    // IVF-PQ (the FAISS-style composition): codes partitioned by the
    // coarse cluster, probe prunes partitions BEFORE the ADC scan of
    // 8-byte codes, exact re-rank of the 200-shortlist. With the
    // exhaustive probe the candidate space equals knn_pq_rerank's, so
    // the result equals exact top-10 and shares the brute-force oracle.
    // Index structures are memoized per sf-dir (build once, probe many).
    QuerySpec("knn_ivfpq_rerank", (s, dir) => {
      val corpus = emb(s, dir)
      val (ivf, cb, codesDir) = ivfPqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val short = graft.index.Pq.searchIvfPq(s, codesDir, ivf, cb, query,
        shortlist = 1000, nprobe = 8)
      graft.index.Pq.rerankShortlist(short, corpus, query, k = 10)
    }, () =>
      // IVF-PQ with exhaustive probe + re-rank also converges to exact
      // top-10 — same brute-force oracle as the flat-PQ path.
      KnnExactTop10Oracle),

    // IVF-SQ8 — the FAISS IndexIVFScalarQuantizer composition: SQ8
    // codes partitioned by IVF cluster, a probe prunes partitions
    // BEFORE the ADC scan (IO shrinks multiplicatively) and keeps
    // per-dimension resolution where IVF-PQ shares subspace centroids.
    // Same rerank-equals-exact contract as knn_ivfpq_rerank, so it
    // shares the brute-force oracle.
    QuerySpec("knn_ivfsq_rerank", (s, dir) => {
      val corpus = emb(s, dir)
      val (ivf, model, codesDir) = ivfSqIndex(dir, corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val short = graft.index.Sq.searchIvfSq(s, codesDir, ivf, model, query,
        shortlist = 1000, nprobe = 8)
      graft.index.Pq.rerankShortlist(short, corpus, query, k = 10)
    }, () =>
      // IVF-SQ8 + re-rank converges to the same exact top-10 (all
      // clusters probed at nprobe=nlist — the pruning structure is
      // exercised, the contract never depends on it; SQ8's 1000-code
      // shortlist covers with wide margin)
      KnnExactTop10Oracle),

    // LSH approximate top-10 (O6 rebuild → fit, approx O7), oracle-checked
    // via the planted-copy construction (same device as knn_ivf_pruned):
    // nine exact copies of the query vector join the corpus, so exactly
    // ten rows (self + nine copies) sit at dist 0. An exact copy hashes
    // identically to the key in EVERY hash table — floor((v·h + b)/w) is
    // a pure function of v — so all ten are guaranteed candidates of the
    // single-probe lookup, and any sort-by-distance must keep precisely
    // the ten dist-0 rows in its top-10. The approximate path therefore
    // provably equals the brute-force exact oracle while still exercising
    // the full LSH plumbing (fit, bucket probe, candidate re-rank). Recall
    // on the RAW corpus stays pinned by knn_lsh_check and AnnSpec.
    QuerySpec("knn_lsh_top10", (s, dir) => {
      val corpus = emb(s, dir)
      val planted = corpus.filter(col("vec_id") === 0)
        .crossJoin(s.range(9))
        .select((col("id") + lit(3000000L)).as("vec_id"), col("embedding"))
      val full = corpus.select(col("vec_id"), col("embedding")).union(planted)
      val model = graft.index.Ann.fit(full)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Ann.searchApprox(model, full, query, k = 10)
    }, () =>
      // Exact brute force over the same planted corpus — the ten dist-0
      // rows (query self-match + nine exact copies) are guaranteed LSH
      // candidates, so the approximate search must reproduce this exactly.
      s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
         |           UNION ALL
         |           SELECT 3000000 + r.i AS vec_id, e.embedding
         |           FROM embeddings e CROSS JOIN range(9) r(i) WHERE e.vec_id = 0),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
         |      FROM c CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // Invariant summary for the LSH search path (its bucket choices are
    // not SQL-expressible, so the rows stay rows-only above): every
    // reported distance must equal the exact kernel's value for that id,
    // the operator's rank column must agree with a recomputed (dist, id)
    // ranking, at most k rows, and the approximate top-10 must intersect
    // the exact top-10 in at least 8 ids (the seeded index is
    // deterministic; recall is also pinned in AnnSpec). All counts are
    // invariants, so the oracle pins constants.
    QuerySpec("knn_lsh_check", (s, dir) => {
      val corpus = emb(s, dir)
      val model = graft.index.Ann.fit(corpus)
      val query = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val approx = graft.index.Ann.searchApprox(model, corpus, query, k = 10)
      val exact = VectorSearch.knnExact(corpus, query.toSeq, k = 10)
      val truth = corpus.select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), lit(query)).as("true_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("true_dist").asc, col("vec_id").asc)
      val checked = approx
        .join(truth, "vec_id")
        .join(exact.select(col("vec_id"), lit(1).as("in_exact")), Seq("vec_id"), "left")
        // recomputed from the TRUE distances — catches both a mis-ranked
        // operator and a dist column that disagrees with the ranking
        .withColumn("rank_check", row_number().over(w))
      checked.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 10, 1L).otherwise(0L)).as("over_k"),
        sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)).cast("long").as("recall10_hits"))
        .select(col("n_rows"), col("bad_dist"), col("rank_violations"), col("over_k"),
          when(col("recall10_hits") >= 8, 1L).otherwise(0L).as("recall_ok"))
    }, () => KnnHnswCheckOracle),

    // kNN over int8-quantized-then-dequantized embeddings — proves the
    // quantization arithmetic end-to-end against the oracle (identical
    // float64 op order both sides; floor(x+0.5), never round()).
    QuerySpec("knn_quantized_top10", (s, dir) => {
      import graft.functions.{Distances, Quantization}
      val e = emb(s, dir)
      val deq = Quantization.quantize(e).select(col("vec_id"),
        Quantization.dequantize(col("codes"), col("q_min"), col("q_scale")).as("deq"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      deq.crossJoin(broadcast(q))
        .select(col("vec_id"), Distances.l2SqHof(col("deq"), col("qe")).as("dist"))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
    }, () =>
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |p AS (SELECT vec_id, embedding,
         |        CAST(list_min(embedding) AS DOUBLE) AS mn,
         |        CASE WHEN CAST(list_max(embedding) AS DOUBLE) > CAST(list_min(embedding) AS DOUBLE)
         |             THEN (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0
         |             ELSE 1.0 END AS sc
         |      FROM embeddings),
         |d AS (SELECT vec_id,
         |        list_transform(embedding,
         |          x -> mn + least(greatest(floor((CAST(x AS DOUBLE) - mn) / sc + 0.5), 0.0), 255.0) * sc) AS deq
         |      FROM p)
         |SELECT d.vec_id AS vec_id, ${l2SqSql("d.deq", "q.qe")} AS dist
         |FROM d CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // BINARY (1-bit) signatures + Hamming top-k — the heaviest
    // compression rung on the quantization ladder (float32 256 B →
    // one 64-bit word, 32×) and the classic first stage of two-stage
    // retrieval. Thresholds are per-dimension MIDRANGE (min+max)/2:
    // order-independent aggregates, so every signature bit is
    // bit-identical across partitionings and engines (a mean's float
    // summation order would not be). Signature build is a narrow map;
    // the scan is bit_count(xor) + TakeOrderedAndProject. The
    // signature table + thresholds persist behind the shared
    // fingerprint-sidecar artifact (build once, probe many — repeat
    // probes scan 8 bytes/row and never re-read the float corpus).
    QuerySpec("knn_hamming_top10", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.index.Binary.hammingTopK(
        graft.index.Binary.signaturesFromArtifact(s, artDir),
        graft.index.Binary.signatureOf(q, thr), 10)
    }, () => KnnHammingTop10Oracle),

    // Two-stage retrieval (the production shape at 100 TB): Hamming
    // shortlist of 50 over the 8-byte signatures, then exact float64
    // rescore of ONLY those rows — the bounded id set re-enters as an
    // isin predicate and reaches the parquet scan as a pushed filter
    // (row-group pruning), so full-precision vectors are read for 50
    // rows, never rescanned. The oracle replays both stages.
    QuerySpec("knn_hamming_rescore", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      graft.index.Binary.hammingRescoreTopK(
        e, graft.index.Binary.signaturesFromArtifact(s, artDir), q, thr,
        k = 10, shortlist = 50)
    }, () =>
      s"""WITH $hammingSigCtes,
         |short AS MATERIALIZED (
         |  SELECT s.vec_id FROM sigs s CROSS JOIN qs q
         |  ORDER BY CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) ASC, s.vec_id ASC
         |  LIMIT 50),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // The 1-bit stage's accuracy, MEASURED and under the hash gate:
    // how much of the exact top-10 the 50-id Hamming shortlist
    // retains. Binary signatures trade recall for a 32× scan; the
    // number is recorded honestly (isotropic synthetic embeddings are
    // the hard case for sign bits) rather than assumed.
    QuerySpec("knn_hamming_recall", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val short = graft.index.Binary.hammingTopK(
        graft.index.Binary.signaturesFromArtifact(s, artDir),
        graft.index.Binary.signatureOf(q, thr), 50).select("vec_id")
      VectorSearch.knnExact(e, q, 10).select("vec_id")
        .join(short, "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(50).as("shortlist"), lit(10).as("k"), col("n_hit"),
          (col("n_hit").cast("double") / 10.0).as("recall"))
    }, () =>
      s"""WITH $hammingSigCtes,
         |short AS MATERIALIZED (
         |  SELECT s.vec_id FROM sigs s CROSS JOIN qs q
         |  ORDER BY CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) ASC, s.vec_id ASC
         |  LIMIT 50),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |exact AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |          ORDER BY ${l2SqSql("e.embedding", "q.qe")} ASC, e.vec_id ASC
         |          LIMIT 10)
         |SELECT CAST(50 AS INTEGER) AS shortlist, CAST(10 AS INTEGER) AS k,
         |       count(*) AS n_hit,
         |       CAST(count(*) AS DOUBLE) / 10.0 AS recall
         |FROM exact JOIN short USING (vec_id)""".stripMargin),

    // TAKEDOWN leg for the persisted BINARY signature store: the two
    // nearest non-self signatures are tombstoned (thresholds NEVER
    // refit — the trained-index contract, so the oracle's sig CTEs
    // over the FULL corpus stay valid), and the live-signature probe
    // must reproduce a from-scratch Hamming ranking over the
    // survivors. Delete = one tag-keyed batch write; the 8-byte scan
    // gains one broadcast anti-join of a two-row id set.
    QuerySpec("knn_hamming_delete", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bindel_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      graft.index.Binary.dropMutations(artDir) // replay determinism
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val qsig = graft.index.Binary.signatureOf(q, thr)
      // bounded: raw top-3 comes back, self (rank 1 — hamming 0 at the
      // minimal id) drops out -> 2 ids, deterministic per corpus
      val delIds = graft.index.Binary.hammingTopK(
          graft.index.Binary.signaturesFromArtifact(s, artDir), qsig, 3)
        .collect().map(_.getLong(0)).filter(_ != 0L).toIndexedSeq
      graft.index.Binary.deleteFromArtifact(s, artDir,
        e.filter(col("vec_id").isin(delIds: _*)), tag = "del")
      graft.index.Binary.hammingTopK(
        graft.index.Binary.liveSignatures(s, artDir), qsig, 10)
    }, () =>
      // From-scratch Hamming ranking over the survivors: thresholds stay
      // fit on the FULL corpus (the trained-index contract — deletes
      // never refit), the deleted ids are exactly the raw top-3 minus
      // the self row, and the live probe must reproduce the ranking.
      s"""WITH $hammingSigCtes,
         |h AS MATERIALIZED (
         |  SELECT s.vec_id AS vec_id,
         |         CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
         |  FROM sigs s CROSS JOIN qs q),
         |del AS (SELECT vec_id FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 3)
         |SELECT vec_id, hamming FROM h
         |WHERE vec_id NOT IN (SELECT vec_id FROM del WHERE vec_id <> 0)
         |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin),

    // DIMENSIONAL TRUNCATION two-stage retrieval (the Matryoshka
    // shape, Kusupati et al. NeurIPS'22): stage 1 is exact L2 over
    // only the first 16 of 64 coordinates — a 4× scan-cost cut with
    // no codebook or training artifact (at scale the prefix lives as
    // its own narrow column and the wide column prunes away) — stage
    // 2 rescores the 50 survivors at full dimension through the
    // pushed id filter. Completes the quantization ladder's cheapest
    // float rung next to int8/PQ/OPQ/IVF-PQ/binary.
    QuerySpec("knn_prefix_rescore", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.knnPrefixRescore(e, q, prefixDim = 16, k = 10,
        shortlist = 50)
    }, () =>
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |short AS MATERIALIZED (
         |  SELECT e.vec_id FROM embeddings e CROSS JOIN q
         |  ORDER BY ${l2SqSql("e.embedding", "q.qe", dim = 16)} ASC, e.vec_id ASC
         |  LIMIT 50)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e JOIN short USING (vec_id) CROSS JOIN q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // HNSW — the index family the reference actually ships
    // (reference lib/hnsw/hnsw.h, Malkov & Yashunin TPAMI'18),
    // sharded: one deterministic sub-graph per hash shard, built once
    // behind the fingerprint sidecar, probed by searching every
    // shard's graph in parallel and merging <= parts*k candidates in a
    // global TakeOrdered. The graph walk's bucket choices are not
    // SQL-expressible; the oracle is the EXACT ranking, which the
    // probe must reproduce end-to-end (recall is additionally pinned
    // as an invariant by knn_hnsw_check and HnswSpec).
    QuerySpec("knn_hnsw_top10", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
    }, () =>
      // The HNSW probe must reproduce the exact ranking end-to-end (the
      // sharded graphs cover the corpus and each shard's beam returns its
      // true local top-k on this data — recall additionally pinned by
      // knn_hnsw_check and HnswSpec).
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q)
         |SELECT vec_id, dist,
         |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin),

    // BATCH probe over the same persisted HNSW layout: a 5-query table
    // served in ONE pass — each shard's resident graph walks all
    // queries (per-task graph assembly amortized across the batch),
    // then a bounded per-query window ranks ≤ parts·k·|Q| candidates.
    // The oracle is the exact per-query ranking (knn_join_agg's
    // brute-force shape), which the beam at efSearch=64 must reproduce
    // end-to-end — a 5× harder exactness pin than the single-query
    // probe.
    QuerySpec("knn_hnsw_batch", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      // bounded collect: the 5 probe vectors
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1).toSeq
      graft.index.Hnsw.searchLayoutBatch(s, artDir, qs, k = 10, p,
        efSearch = 64)
    }, () =>
      // Exact per-query brute force — the graph walk must reproduce the
      // full (query_id, vec_id, dist, rank) relation for all 5 queries.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |      FROM embeddings e CROSS JOIN q),
         |r AS (SELECT query_id, vec_id, dist,
         |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
         |      FROM d)
         |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
         |ORDER BY query_id ASC, rank ASC""".stripMargin),

    // HNSW tombstone delete: mark-deleted ids stay in the graph as
    // ROUTING WAYPOINTS (severing edges breaks small-world paths — the
    // production semantics) but never surface in results; deletes are
    // tag-keyed overwrites (idempotent under redelivery) in a SEPARATE
    // artifact dir so the plain probe's layout stays pristine. Query
    // vec 0 deletes ITSELF plus two more — the exact top-1 visibly
    // drops out, which the oracle replays with a NOT IN.
    QuerySpec("knn_hnsw_delete", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnswdel_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      graft.index.Hnsw.deleteFromLayout(s, artDir, Seq(0L, 1L, 2L), tag = "q")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
    }, () => KnnHnswDeleteOracle),

    // PHYSICAL tombstone reclaim for the sharded HNSW layout — the
    // compaction leg knn_hnsw_delete's logical delete was missing
    // (every other store physically drops at compaction; without this
    // a delete-heavy graph keeps dead routing waypoints forever): the
    // shared base is copied, three ids are tombstoned, and
    // compactDeltas(dropTombstoned = true) canonically REBUILDS the
    // graph without them (versioned atomic swap, tombstone table
    // removed after the commit). The post-compaction probe pays NO
    // exclusion and must still equal the brute-force oracle over the
    // survivors — proving the rebuild dropped exactly the dead nodes.
    QuerySpec("knn_hnsw_compact", (s, dir) => {
      val e = emb(s, dir)
      val p = hnswParams(e)
      val baseDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      graft.index.Hnsw.ensureLayout(e, baseDir, p)
      val scratch = freshScratchDir(dir, "hnswcompact")
      val work = s"$scratch/art"
      copyDir(baseDir, work)
      graft.index.Hnsw.deleteFromLayout(s, work, Seq(0L, 1L, 2L), tag = "q")
      graft.index.Hnsw.compactDeltas(s, work, p, dropTombstoned = true)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      graft.index.Hnsw.searchLayout(s, work, q, 10, p, efSearch = 64)
    }, () =>
      // The canonical rebuild WITHOUT the tombstoned nodes must probe to
      // the same survivors-only brute force — identical oracle to the
      // mask-based knn_hnsw_delete, but the engine pays no exclusion.
      KnnHnswDeleteOracle),

    // Invariant summary for the HNSW path (the knn_lsh_check pattern):
    // every reported distance equals the exact kernel's value for that
    // id, the rank column agrees with a recomputed (dist, id) ranking,
    // at most k rows, and the top-10 intersects the exact top-10 in at
    // least 9 ids. The build is deterministic, so the summary is a
    // constant row the oracle pins.
    QuerySpec("knn_hnsw_check", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_${dirKey(dir)}"
      val p = hnswParams(e)
      graft.index.Hnsw.ensureLayout(e, artDir, p)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val approx = graft.index.Hnsw.searchLayout(s, artDir, q, 10, p, efSearch = 64)
      val exact = VectorSearch.knnExact(e, q.toSeq, k = 10)
      val truth = e.select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), lit(q)).as("true_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("true_dist").asc, col("vec_id").asc)
      val checked = approx
        .join(truth, "vec_id")
        .join(exact.select(col("vec_id"), lit(1).as("in_exact")), Seq("vec_id"), "left")
        .withColumn("rank_check", row_number().over(w))
      checked.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("dist") =!= col("true_dist"), 1L).otherwise(0L)).as("bad_dist"),
        sum(when(col("rank") =!= col("rank_check"), 1L).otherwise(0L)).as("rank_violations"),
        sum(when(col("rank") > 10, 1L).otherwise(0L)).as("over_k"),
        sum(when(col("in_exact").isNotNull, 1L).otherwise(0L)).cast("long").as("recall10_hits"))
        .select(col("n_rows"), col("bad_dist"), col("rank_violations"), col("over_k"),
          when(col("recall10_hits") >= 9, 1L).otherwise(0L).as("recall_ok"))
    }, () => KnnHnswCheckOracle),

    // MAXIMAL MARGINAL RELEVANCE diversified retrieval (Carbonell &
    // Goldstein SIGIR'98) — the RAG de-redundancy step: greedy picks
    // maximize 0.7·rel − 0.3·max-sim-to-selected, so near-duplicate
    // passages stop crowding out coverage. Corpus-sized work (cosine
    // relevance + 20-row shortlist) is the distributed TakeOrdered
    // path; the inherently-sequential greedy runs on the driver over
    // the BOUNDED shortlist. The oracle unrolls all 8 greedy layers
    // relationally (materialized candidate/sim tables + one argmax CTE
    // per pick — the BPE priority-layer discipline) and matches bit
    // for bit.
    QuerySpec("knn_mmr", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      VectorSearch.knnMmr(e, q, k = 8, shortlist = 20)
    }, () => mmrOracleSql(k = 8, shortlist = 20)),

    // Metadata-filtered hybrid search: the label predicate prunes the
    // scan BELOW the top-k (visible as a parquet PushedFilter).
    QuerySpec("knn_hybrid", (s, dir) => {
      val corpus = emb(s, dir)
      val query = corpus.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      VectorSearch.knnExactDf(corpus.filter(col("label") === 3), query, k = 10)
    }, () =>
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
         |FROM embeddings e CROSS JOIN q
         |WHERE e.label = 3
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin)
  )
}
