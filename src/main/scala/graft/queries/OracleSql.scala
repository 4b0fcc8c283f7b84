package graft
package queries

/** DuckDB SQL builders shared by the oracles of the vector, text-
  * search, curation and media queries, plus the oracle bodies
  * that several queries share verbatim. */
object OracleSql {
  import Fixtures._, TokenizerOracleSql._

  /** Left-associative squared-L2 sum over explicit 1-based SQL array
    * indexes — bit-identical to Distances.l2Sq's fold. */
  private[queries] def l2SqSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE)) * (CAST($a[$i] AS DOUBLE) - CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** Left-associative dot product over explicit 1-based SQL indexes —
    * bit-identical to Distances.dot's fold. */
  private[queries] def dotSql(a: String, b: String, dim: Int = EmbDim): String =
    (1 to dim)
      .map(i => s"(CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE))")
      .mkString(" + ")

  /** The knn_mmr oracle: the greedy MMR selection unrolled into one
    * argmax CTE per pick. `cand`/`sims` materialize ONCE (20 rows /
    * 380 sim pairs); every later layer is a NOT-IN/IN probe over 1-row
    * pick CTEs — all MATERIALIZED so DuckDB's multi-consumer CTE
    * inlining cannot re-evaluate the chain combinatorially. Weights are
    * the literals 0.7/0.3 on BOTH engines (never λ and 1−λ: decimal
    * folding of 1.0−0.7 is exact while float64 is not). */
  private[queries] def mmrOracleSql(k: Int, shortlist: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""cand AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |         (${dotSql("e.embedding", "q.qe")})
         |           / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS rel
         |  FROM embeddings e CROSS JOIN q
         |  ORDER BY rel DESC, vec_id ASC LIMIT $shortlist)""".stripMargin,
      s"""sims AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         (${dotSql("a.embedding", "b.embedding")})
         |           / (sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS s
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id)""".stripMargin,
      """p1 AS MATERIALIZED (
        |  SELECT 1 AS rank, vec_id, rel, 0.7*rel - 0.3*0.0 AS mmr_score
        |  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1)""".stripMargin)
    for (i <- 2 to k) {
      val sel = (1 until i).map(j => s"SELECT vec_id FROM p$j").mkString(" UNION ALL ")
      parts += s"u$i AS MATERIALIZED (SELECT vec_id FROM ($sel))"
      parts +=
        s"""m$i AS MATERIALIZED (
           |  SELECT c.vec_id, c.rel, max(s.s) AS ms
           |  FROM cand c JOIN sims s ON s.ia = c.vec_id AND s.ib IN (SELECT vec_id FROM u$i)
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM u$i)
           |  GROUP BY c.vec_id, c.rel)""".stripMargin
      parts +=
        s"""p$i AS MATERIALIZED (
           |  SELECT $i AS rank, vec_id, rel, 0.7*rel - 0.3*ms AS mmr_score
           |  FROM m$i ORDER BY mmr_score DESC, vec_id ASC LIMIT 1)""".stripMargin
    }
    val union = (1 to k).map(j => s"SELECT * FROM p$j").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |${parts.mkString(",\n")}
       |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel, mmr_score
       |FROM ($union) ORDER BY rank""".stripMargin
  }

  /** Binary-signature CTEs shared by the knn_hamming_* oracles:
    * per-dimension MIDRANGE thresholds (order-independent min/max —
    * bit-identical to [[graft.index.Binary.fitThresholds]] under any
    * partitioning), the bit_or signature build, and the query row's
    * signature. The sign bit is special-cased: DuckDB's checked `<<`
    * overflows at shift 63, so bit 64 is the BIGINT min literal. */
  private[queries] def hammingSigCtes: String =
    s"""thr AS MATERIALIZED (
       |  SELECT u.i AS i,
       |    (CAST(min(e.embedding[u.i]) AS DOUBLE) + CAST(max(e.embedding[u.i]) AS DOUBLE)) / 2.0 AS t
       |  FROM embeddings e, unnest(range(1, ${EmbDim + 1})) AS u(i) GROUP BY u.i),
       |sigs AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    bit_or(CASE WHEN CAST(e.embedding[t.i] AS DOUBLE) > t.t
       |           THEN (CASE WHEN t.i - 1 = 63 THEN (-9223372036854775807 - 1)
       |                 ELSE (CAST(1 AS BIGINT) << (t.i - 1)) END)
       |           ELSE CAST(0 AS BIGINT) END) AS sig
       |  FROM embeddings e, thr t GROUP BY e.vec_id),
       |qs AS (SELECT sig AS qsig FROM sigs WHERE vec_id = 0)""".stripMargin

  /** Each query's signature ranking replayed relationally over the
    * shared signature CTEs — shared verbatim by the API batch
    * (knn_hamming_batch) and its one-statement SQL route
    * (sql_hamming_batch): the equivalence proof. */
  private[queries] def hammingBatchOracleSql: String =
    s"""WITH $hammingSigCtes,
       |qb AS (SELECT vec_id AS query_id, sig AS qsig FROM sigs WHERE vec_id < 3),
       |d AS (SELECT qb.query_id, s.vec_id,
       |        CAST(bit_count(xor(s.sig, qb.qsig)) AS INTEGER) AS hamming
       |      FROM sigs s CROSS JOIN qb),
       |r AS (SELECT query_id, vec_id, hamming,
       |        row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn
       |      FROM d)
       |SELECT query_id, vec_id, hamming FROM r WHERE rn <= 10
       |ORDER BY query_id, hamming, vec_id""".stripMargin

  /** Exact per-query brute force over corpus ∪ planted — shared
    * verbatim by the pruned API batch (knn_ivf_batch) and its
    * one-statement SQL route (sql_ivf_batch). */
  private[queries] def knnIvfBatchOracleSql: String =
    s"""WITH p AS (SELECT e.vec_id * 100 + r.i + 4900000 AS vec_id, e.embedding
       |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id < 3),
       |c AS (SELECT vec_id, embedding FROM embeddings
       |      UNION ALL SELECT vec_id, embedding FROM p),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |d AS (SELECT q.query_id, c.vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
       |      FROM c CROSS JOIN q),
       |r AS (SELECT query_id, vec_id, dist,
       |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
       |      FROM d)
       |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  /** DuckDB normalization/tokenization identical to
    * TextAnalysis.normalizeText / tokens (note the 'g' flag — DuckDB
    * regexp_replace is first-match-only by default). */
  private[queries] val NormSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  private[queries] val ToksSql = s"string_split($NormSql, ' ')"

  /** Oracle CTE chain replaying [[graft.text.LogReg]]'s full-batch GD:
    * the data-derived top-`vocabK` vocabulary, the (bias + relative
    * frequency) feature table, then `iters` unrolled weight layers —
    * each one gradient aggregate (per-row contributions floored to
    * micro-Longs BEFORE the sum, so the reduction is exact integer
    * arithmetic) and one truncating-division update (DuckDB `//` and
    * Scala Long `/` both round toward zero). z accumulates strictly
    * left-to-right in ascending feature order on both engines; the
    * rational sigmoid is pure +,×,/,abs — no libm variance. Layers
    * and the feature table are MATERIALIZED (multi-referenced CTE
    * discipline). Ends with `w<iters>` in scope. */
  private[queries] def lrOracleCtes(
      iters: Int, vocabK: Int, labelLang: String,
      lrNum: Long, lrDen: Long): String = {
    val dim = vocabK + 1
    val xs = (0 until dim).map(j => f"x$j%02d")
    val ws = (0 until dim).map(j => f"w$j%02d")
    val gs = (0 until dim).map(j => f"g$j%02d")
    val featExprs = (1 to vocabK).map { j =>
      s"(10.0 * CAST(coalesce(sum(CASE WHEN c.fidx = $j THEN c.cnt END), 0) AS DOUBLE))" +
        s" / CAST(max(len(t.toks)) AS DOUBLE) AS ${xs(j)}"
    }.mkString(",\n|     ")
    val zSum = (0 until dim).map(j => s"(${ws(j)} / 1000000.0) * ${xs(j)}").mkString(" + ")
    val sb = new StringBuilder
    sb ++= s"""t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
       |vc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       |       FROM t, unnest(toks) AS u(tok) GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS fidx
       |  FROM vc ORDER BY c DESC, tok LIMIT $vocabK),
       |cnts AS (SELECT dt.doc_id, v.fidx, CAST(count(*) AS BIGINT) AS cnt
       |         FROM (SELECT doc_id, unnest(toks) AS tok FROM t) dt
       |         JOIN vocab v USING (tok) GROUP BY 1, 2),
       |f AS MATERIALIZED (
       |  SELECT t.doc_id,
       |     CASE WHEN max(t.lang) = '$labelLang' THEN 1.0 ELSE 0.0 END AS y,
       |     1.0 AS x00,
       |     $featExprs
       |  FROM t LEFT JOIN cnts c USING (doc_id) GROUP BY t.doc_id),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
       |w0 AS MATERIALIZED (SELECT ${ws.map(w => s"CAST(0 AS BIGINT) AS $w").mkString(", ")}),
       |""".stripMargin
    for (k <- 1 to iters) {
      val gCols = (0 until dim).map { j =>
        s"CAST(sum(CAST(floor(1000000.0 * ((y - p) * ${xs(j)})) AS BIGINT)) AS BIGINT) AS ${gs(j)}"
      }.mkString(", ")
      val wCols = (0 until dim).map { j =>
        s"${ws(j)} + ($lrNum * ${gs(j)}) // ($lrDen * n) AS ${ws(j)}"
      }.mkString(", ")
      sb ++= s"g$k AS (SELECT $gCols\n"
      sb ++= s"  FROM (SELECT q.*, 0.5 + (0.5 * (z / (1.0 + abs(z)))) AS p\n"
      sb ++= s"        FROM (SELECT f.*, $zSum AS z FROM f CROSS JOIN w${k - 1}) q) r),\n"
      sb ++= s"w$k AS MATERIALIZED (SELECT $wCols FROM w${k - 1} CROSS JOIN g$k CROSS JOIN nn)"
      sb ++= (if (k < iters) ",\n" else "\n")
    }
    sb.toString
  }

  /** Z-order layout-stats oracle: replays ZOrder.layoutStats — the
    * same range-bucket arithmetic, the same unrolled Morton
    * bit-interleave (generated by the same code), the same
    * counting-sort equal-row block assignment over the occupied-cell
    * table, micro-quantized per-block span averages. */
  private[queries] lazy val ZOrderOracleSql: String = {
    import graft.ops.ZOrder.{mortonSql, rangeBucketSql}
    def layer(name: String, sk: String): String =
      s"""c_$name AS (SELECT xb, yb, cnt,
         |  coalesce(sum(cnt) OVER (ORDER BY $sk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM cells),
         |g_$name AS (SELECT
         |    CAST(floor(CAST(cum * 64 AS DOUBLE) / CAST(tot.n_rows AS DOUBLE)) AS BIGINT) AS blk,
         |    xb, yb FROM c_$name, tot),
         |s_$name AS (SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_blocks,
         |    CAST(floor((CAST(sum(xs) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_x_span_micro,
         |    CAST(floor((CAST(sum(ys) AS DOUBLE) * 1000000.0) / CAST(count(*) AS DOUBLE)) AS BIGINT) AS avg_y_span_micro
         |  FROM (SELECT blk, max(xb) - min(xb) AS xs, max(yb) - min(yb) AS ys
         |        FROM g_$name GROUP BY 1))""".stripMargin
    s"""WITH r AS (SELECT CAST(min(user_id) AS DOUBLE) AS x_mn, CAST(max(user_id) AS DOUBLE) AS x_mx,
       |  CAST(min(value) AS DOUBLE) AS y_mn, CAST(max(value) AS DOUBLE) AS y_mx FROM events),
       |cells AS (SELECT xb, yb, count(*) AS cnt FROM (
       |  SELECT ${rangeBucketSql("user_id", "r.x_mn", "r.x_mx", 1024)} AS xb,
       |         ${rangeBucketSql("value", "r.y_mn", "r.y_mx", 1024)} AS yb
       |  FROM events, r) GROUP BY 1, 2),
       |tot AS (SELECT sum(cnt) AS n_rows FROM cells),
       |${layer("by_x", "(xb * 1024 + yb)")},
       |${layer("by_y", "(yb * 1024 + xb)")},
       |${layer("zorder", mortonSql("xb", "yb", 10))}
       |SELECT * FROM (SELECT * FROM s_by_x UNION ALL SELECT * FROM s_by_y
       |  UNION ALL SELECT * FROM s_zorder) ORDER BY layout""".stripMargin
  }

  /** Quantized-Lloyd k-means oracle: the full training REPLAYED —
    * micro-unit quantization, `iters` rounds of (integer-distance
    * argmin with (dist, cluster) ties → per-dimension floor-division
    * centroid update, empty clusters keeping their centroid), then the
    * final assignment. Every value is exact int64, so the replay is
    * bit-identical; round CTEs are MATERIALIZED (the chained-
    * derivation discipline — DuckDB inlines multiply-referenced CTEs
    * exponentially otherwise). */
  private[queries] def quantKMeansOracleSql(k: Int, iters: Int, dim: Int = EmbDim,
      finalSelect: Option[String => String] = None): String = {
    val qExpr =
      s"[CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) FOR i IN range(1, ${dim + 1})]"
    def assignCtes(r: Int, centTbl: String): String =
      s"""a$r AS MATERIALIZED (
         |  SELECT q.vec_id, q.qv, c.cluster,
         |         CAST(list_sum([(q.qv[i] - c.cent[i]) * (q.qv[i] - c.cent[i])
         |                        FOR i IN range(1, ${dim + 1})]) AS BIGINT) AS dist
         |  FROM q, $centTbl c),
         |b$r AS MATERIALIZED (
         |  SELECT vec_id, qv, cluster, dist
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
         |        FROM a$r)
         |  WHERE rk = 1)""".stripMargin
    def updateCtes(r: Int, prevCent: String): String =
      s"""u$r AS (SELECT cluster, u.i AS pos, CAST(sum(qv[u.i]) AS BIGINT) AS s,
         |               CAST(count(*) AS BIGINT) AS n
         |        FROM b$r, unnest(range(1, ${dim + 1})) AS u(i) GROUP BY 1, 2),
         |v$r AS (SELECT cluster, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS cent
         |        FROM u$r GROUP BY 1),
         |c$r AS MATERIALIZED (SELECT p.cluster, coalesce(v.cent, p.cent) AS cent
         |        FROM $prevCent p LEFT JOIN v$r v USING (cluster))""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"${assignCtes(r, s"c${r - 1}")},\n${updateCtes(r, s"c${r - 1}")}"
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (SELECT vec_id, $qExpr AS qv FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, qv AS cent
       |  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT $k)),
       |$rounds,
       |${assignCtes(iters + 1, s"c$iters")}
       |${finalSelect.map(_(s"b${iters + 1}")).getOrElse(
           s"""SELECT vec_id, cluster, dist AS dist_q
              |FROM b${iters + 1} ORDER BY vec_id""".stripMargin)}""".stripMargin
  }

  /** BM25 oracle, shared verbatim by `doc_bm25_top20` (corpus-scan
    * path) and `doc_bm25_indexed` (persisted posting lists): the two
    * queries hashing to the same oracle result IS the proof the index
    * probe equals the scan. */
  private[queries] lazy val Bm25OracleSql: String = bm25Sql(20)

  /** Brute-force contains-scan oracle shared by doc_substring_search
    * (trigram-index path) and sql_substring_search (one-statement SQL
    * path): deliberately NOT the index plan — matching hashes prove
    * both index paths equal the definition. */
  private[queries] lazy val SubstringOracleSql: String = substringSqlOver("documents")

  /** The same substring oracle over an arbitrary (doc_id, text)
    * relation — `stream_substring_append` passes the base ∪ planted
    * union. */
  private[queries] def substringSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $NormSql AS n FROM $src)
       |SELECT doc_id,
       |       CAST((len(n) - len(replace(n, 'merge batch', ''))) // 11 AS BIGINT) AS n_hits
       |FROM t WHERE contains(n, 'merge batch')
       |ORDER BY doc_id""".stripMargin

  /** Brute-force token-slice oracle shared by doc_phrase_search and
    * sql_phrase_search. */
  private[queries] lazy val PhraseOracleSql: String = phraseSqlOver("documents")

  /** The same phrase oracle over an arbitrary (doc_id, text) relation —
    * `stream_phrase_append` passes the base ∪ planted union so the
    * delta-aware probe is checked against a from-scratch definition. */
  private[queries] def phraseSqlOver(src: String): String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id,
       |          CAST(len([i FOR i IN range(1, len(toks))
       |                    IF toks[i] = 'hash' AND toks[i+1] = 'join']) AS BIGINT)
       |            AS n_occurrences
       |        FROM t)
       |SELECT doc_id, n_occurrences FROM occ
       |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin

  /** The batch-probe phrase table shared by doc_phrase_batch and its
    * oracle generator (a phrase with zero matches contributes zero
    * rows on BOTH engines, so presence in the corpus is not required
    * for the twin to hold). */
  private[queries] val PhraseBatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join"),
    1L -> Seq("merge", "batch"),
    2L -> Seq("vector", "stream"))

  /** Oracle for the batched phrase probe: one token-slice replay per
    * phrase (the [[phraseSqlOver]] arithmetic, parameterized), unioned
    * under its query_id. */
  private[queries] def phraseBatchOracleSql(phrases: Seq[(Long, Seq[String])]): String = {
    val legs = phrases.map { case (qid, p) =>
      val cond = p.zipWithIndex
        .map { case (t, i) => s"toks[i+$i] = '$t'" }.mkString(" AND ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, n_occurrences
         |FROM (SELECT doc_id,
         |        CAST(len([i FOR i IN range(1, len(toks) - ${p.size - 2})
         |                  IF $cond]) AS BIGINT) AS n_occurrences
         |      FROM t)
         |WHERE n_occurrences > 0""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** The batch-probe needle table shared by doc_substring_batch and
    * its oracle generator (needles pre-normalized; the match-less one
    * contributes zero rows on both engines). */
  private[queries] val SubstringBatchQueries: Seq[(Long, String)] = Seq(
    0L -> "merge batch",
    1L -> "hash join",
    2L -> "zzz qqq xxx")

  /** Oracle for the batched substring probe: one contains/replace-count
    * replay per needle (the [[substringSqlOver]] arithmetic,
    * parameterized), unioned under its query_id. */
  private[queries] def substringBatchOracleSql(needles: Seq[(Long, String)]): String = {
    val legs = needles.map { case (qid, n) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |       CAST((len(n) - len(replace(n, '$n', ''))) // ${n.length} AS BIGINT) AS n_hits
         |FROM t WHERE contains(n, '$n')""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $NormSql AS n FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** The batch-probe term-pair table shared by doc_proximity_batch
    * and its oracle generator. */
  private[queries] val ProximityBatchQueries: Seq[(Long, (String, String))] = Seq(
    0L -> ("vector", "stream"),
    1L -> ("hash", "join"),
    2L -> ("merge", "window"))

  /** Oracle for the batched proximity probe: one positions-cross-
    * product replay per pair (the [[ProximityOracleSql]] arithmetic,
    * parameterized), unioned under its query_id. */
  private[queries] def proximityBatchOracleSql(pairs: Seq[(Long, (String, String))]): String = {
    val legs = pairs.map { case (qid, (ta, tb)) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |       CAST(min(abs(pa.p - pb.p)) AS INTEGER) AS min_dist
         |FROM (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
         |      WHERE toks[i] = '$ta') pa
         |JOIN (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
         |      WHERE toks[i] = '$tb') pb USING (doc_id)
         |GROUP BY doc_id""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, doc_id""".stripMargin
  }

  /** Brute-force positions-cross-product oracle shared by
    * doc_proximity_search (positional-index path) and
    * sql_proximity_search (one-statement SQL path). */
  private[queries] lazy val ProximityOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |pa AS (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |       WHERE toks[i] = 'vector'),
       |pb AS (SELECT doc_id, u.i AS p FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       |       WHERE toks[i] = 'stream')
       |SELECT pa.doc_id, CAST(min(abs(pa.p - pb.p)) AS INTEGER) AS min_dist
       |FROM pa JOIN pb USING (doc_id)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Brute-force all-pairs probe × registry oracle shared by
    * cust_fuzzy_lookup (API blocking path) and sql_fuzzy_lookup
    * (one-statement SQL blocking path): deliberately NOT blocked, so
    * each hash match is a completeness proof of that path's blocking. */
  private[queries] lazy val FuzzyLookupOracleSql: String =
    """WITH probes AS (
      |  SELECT c_custkey AS probe_id,
      |         substr(c_name, 1, cpos - 1) || CAST(new_d AS VARCHAR)
      |           || substr(c_name, cpos + 1) AS probe_name
      |  FROM (SELECT c_custkey, c_name,
      |               CAST(c_custkey % 9 + 10 AS INT) AS cpos,
      |               (CAST(substr(c_name, CAST(c_custkey % 9 + 10 AS INT), 1) AS BIGINT)
      |                  + 1 + c_custkey % 9) % 10 AS new_d
      |        FROM customer WHERE c_custkey % 97 = 0))
      |SELECT p.probe_id, c.c_custkey,
      |       CAST(levenshtein(p.probe_name, c.c_name) AS INTEGER) AS dist
      |FROM probes p CROSS JOIN customer c
      |WHERE levenshtein(p.probe_name, c.c_name) <= 1
      |ORDER BY probe_id, c_custkey""".stripMargin

  /** The same BM25 oracle at an arbitrary cut — shared with the
    * hybrid-RRF retrieval oracle's candidate stage. */
  private[queries] def bm25Sql(topN: Int): String = bm25SqlOver("documents", topN)

  /** The BM25 oracle over an arbitrary (doc_id, text) relation —
    * `stream_bm25_append` passes the base ∪ planted union so the
    * delta-aware probe is scored against a from-scratch definition. */
  private[queries] def bm25SqlOver(src: String, topN: Int): String =
    s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl, $ToksSql AS toks FROM $src),
       |occ AS (SELECT doc_id, dl, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |        WHERE tok IN ('spark', 'join', 'merge', 'window')
       |        GROUP BY 1, 2, 3),
       |dft AS (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM occ GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |comp AS (SELECT doc_id,
       |           CAST(floor((ln(1.0 + (CAST(n_docs - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
       |             * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
       |                 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
       |             * 1e6) AS BIGINT) AS comp
       |         FROM occ JOIN dft USING (token), st)
       |SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro, CAST(count(*) AS BIGINT) AS n_terms
       |FROM comp GROUP BY 1 ORDER BY bm25_micro DESC, doc_id LIMIT $topN""".stripMargin

  /** The batch-probe query table shared by doc_bm25_batch and its
    * oracle generator, so the fixture cannot drift. */
  private[queries] val Bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join", "merge", "window"),
    1L -> Seq("stream", "hash"),
    2L -> Seq("vector", "merge", "batch"))

  /** Oracle for the batched BM25 probe: ONE shared occ/df/score
    * derivation over the union of every query's terms (df per token is
    * query-independent — the same value each single-query replay
    * computes), then one ranked leg per query, unioned. The scoring
    * arithmetic is textually identical to [[bm25SqlOver]]'s (k1=1.2,
    * b=0.75). */
  private[queries] def bm25BatchOracleSql(queries: Seq[(Long, Seq[String])], topN: Int): String = {
    val all = queries.flatMap(_._2).distinct.map(t => s"'$t'").mkString(", ")
    val legs = queries.map { case (qid, terms) =>
      val termList = terms.map(t => s"'$t'").mkString(", ")
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, bm25_micro, n_terms,
         |       CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS INTEGER) AS rank
         |FROM (SELECT doc_id, CAST(sum(comp) AS BIGINT) AS bm25_micro,
         |             CAST(count(*) AS BIGINT) AS n_terms
         |      FROM comp WHERE token IN ($termList) GROUP BY doc_id)
         |QUALIFY rank <= $topN""".stripMargin
    }
    s"""WITH d AS (SELECT doc_id, len($ToksSql) AS dl, $ToksSql AS toks FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, dl, tok AS token, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS tok FROM d)
       |  WHERE tok IN ($all)
       |  GROUP BY 1, 2, 3),
       |dft AS MATERIALIZED (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM occ GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
       |comp AS MATERIALIZED (SELECT doc_id, token,
       |    CAST(floor((ln(1.0 + (CAST(n_docs - dft AS DOUBLE) + 0.5) / (CAST(dft AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
       |          * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))
       |      * 1e6) AS BIGINT) AS comp
       |  FROM occ JOIN dft USING (token), st)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Karp-Rabin k-gram hash for the winnowing oracle: the rolling hash
    * h(i+1) = (h(i) − c·B^(k−1))·B + c' telescopes to Σ c_j·B^(k−1−j)
    * (mod 2^64), so each hash is one flat sum with the powers of
    * B = 1000003 precomputed mod 2^64 (they exceed HUGEINT un-reduced). */
  private[queries] val WinnowTermsSql = {
    val mod = BigInt(1) << 64
    (0 until 8).map { j =>
      val p = BigInt(1000003).pow(7 - j).mod(mod)
      s"CAST(unicode(c[i+$j]) AS HUGEINT) * $p"
    }.mkString(" + ")
  }

  /** One image-feature dimension of the media-features oracle: dim `d`
    * (0–47, row-major cell-y/cell-x/channel) sampled at the
    * resizePpmNearest floor map sx = cx·w//4, sy = cy·h//4, replaying
    * [[mediaFeatFixture]]'s pixel-channel formulas. References columns
    * media_id/base/bump/w/h/a/bm of the `ic` CTE and the comprehension
    * variable `d`. */
  /** CTE chain replaying [[graft.multimodal.Multimodal.dHash]] from the
    * media-features fixture's id-parameterized pixel formulas: the 9×8
    * nearest-neighbor gray-sum grid, the 64 row-adjacent comparisons,
    * and the HUGEINT→signed-BIGINT bit accumulation (bit 63 is the Long
    * sign bit — the established SimHash-oracle device). Ends with
    * `dh(media_id, w, h, dhash)`. */
  private[queries] val DHashCteSql =
    """ip AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 0 ELSE 1 END AS bump
      |       FROM range(100) t(i)),
      |ic AS (SELECT media_id, base, bump,
      |         8 + base % 23 AS w, 8 + base % 19 AS h,
      |         5 + base % 11 AS a, 7 + base % 13 AS bm
      |       FROM ip),
      |gr AS (SELECT media_id, gx, gy,
      |         (a*((gx*w)//9) + bm*((gy*h)//8) + 3*base) % 251 + bump
      |       + (bm*((gx*w)//9) + a*((gy*h)//8) + 5*base) % 241
      |       + ((a+bm)*((gx*w)//9) + 2*base) % 239 AS gray
      |       FROM ic, range(9) xs(gx), range(8) ys(gy)),
      |bt AS (SELECT l.media_id, l.gy*8 + l.gx AS bit
      |       FROM gr l JOIN gr r ON r.media_id = l.media_id
      |         AND r.gy = l.gy AND r.gx = l.gx + 1
      |       WHERE l.gx < 8 AND r.gray > l.gray),
      |hv AS (SELECT media_id, sum(CAST(1 AS HUGEINT) << bit) AS s
      |       FROM bt GROUP BY 1),
      |dh AS (SELECT ic.media_id, ic.w, ic.h,
      |         CAST(CASE WHEN coalesce(hv.s, 0) < 9223372036854775808
      |              THEN coalesce(hv.s, 0)
      |              ELSE coalesce(hv.s, 0) - 18446744073709551616 END
      |           AS BIGINT) AS dhash
      |       FROM ic LEFT JOIN hv USING(media_id))""".stripMargin

  /** CTE chain replaying [[graft.multimodal.Multimodal.audioFingerprint]]
    * from the audio-fingerprint fixture's id-parameterized PCM formulas:
    * per-clip sample list, 65 frame-energy slices (1-based INCLUSIVE
    * `list_slice` = the kernel's `[f·n/65, (f+1)·n/65)` window), 64
    * adjacent comparisons, HUGEINT→signed-BIGINT packing. Ends with
    * `afp(media_id, n, fp)`. */
  private[queries] val AudioFpCteSql =
    """ap AS (SELECT i AS media_id,
      |         CASE WHEN i < 80 THEN i ELSE i - 80 END AS base,
      |         CASE WHEN i < 80 THEN 1 ELSE 2 END AS vol
      |       FROM range(100) t(i)),
      |sm AS (SELECT media_id, 150 + base % 60 AS n,
      |         [ vol * (((j*37 + base*101) % 3001) - 1500)
      |           FOR j IN range(0, 150 + base % 60) ] AS smp
      |       FROM ap),
      |en AS (SELECT media_id, n,
      |         [ list_sum([abs(x) FOR x IN
      |             list_slice(smp, (f*n)//65 + 1, ((f+1)*n)//65)])
      |           FOR f IN range(0, 65) ] AS e
      |       FROM sm),
      |ahv AS (SELECT media_id, n,
      |          list_sum([ CASE WHEN e[f+2] > e[f+1]
      |                     THEN CAST(1 AS HUGEINT) << f
      |                     ELSE CAST(0 AS HUGEINT) END
      |                     FOR f IN range(0, 64) ]) AS s
      |        FROM en),
      |afp AS (SELECT media_id, n,
      |          CAST(CASE WHEN s < 9223372036854775808 THEN s
      |               ELSE s - 18446744073709551616 END AS BIGINT) AS fp
      |        FROM ahv)""".stripMargin

  private[queries] val ImgFeatDimSql = {
    val sx = "((((d % 12) // 3) * w) // 4)"
    val sy = "(((d // 12) * h) // 4)"
    s"""CASE d % 3
       |  WHEN 0 THEN (a * $sx + bm * $sy + 3*base) % 251 + bump
       |  WHEN 1 THEN (bm * $sx + a * $sy + 5*base) % 241
       |  ELSE ((a + bm) * $sx + 2*base) % 239 END""".stripMargin.replaceAll("\\s+", " ")
  }

  /** The four per-quarter mean-|sample| band energies of the audio
    * feature oracle (floor division, quarter q = j·4//n), over the `ab`
    * abs-sample list and frame count `n` of the `ast` CTE. */
  private[queries] val BandEnergySql = (0 until 4).map { q =>
    s"list_sum([ab[j+1] FOR j IN range(0, n) IF (j*4)//n = $q])" +
      s" // len([j FOR j IN range(0, n) IF (j*4)//n = $q])"
  }.mkString(", ")

  /** Oracle shared by `knn_exact_top10`, `sql_knn_top10`,
    * `knn_ivf_top10`, `knn_ivfpq_rerank`, `knn_ivfsq_rerank`,
    * `sql_pq_topk`, `sql_opq_topk`, `knn_pq_rerank`,
    * `knn_opq_rerank`, `knn_sq8_rerank`, `sql_sq8_topk`. */
  private[queries] def KnnExactTop10Oracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
       |FROM embeddings e CROSS JOIN q
       |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** Oracle shared by `knn_range`, `sql_range_search`. */
  private[queries] def KnnRangeOracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT e.vec_id AS vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
       |      FROM embeddings e CROSS JOIN q)
       |SELECT vec_id, dist FROM d WHERE dist <= 2.0
       |ORDER BY dist ASC, vec_id ASC""".stripMargin

  /** Oracle shared by `knn_hamming_top10`, `sql_hamming_top10`. */
  private[queries] def KnnHammingTop10Oracle: String =
    s"""WITH $hammingSigCtes
       |SELECT s.vec_id AS vec_id,
       |       CAST(bit_count(xor(s.sig, q.qsig)) AS INTEGER) AS hamming
       |FROM sigs s CROSS JOIN qs q
       |ORDER BY hamming ASC, vec_id ASC LIMIT 10""".stripMargin

  /** Oracle shared by `knn_sq8_batch`, `sql_knn_batch`. */
  private[queries] def KnnSq8BatchOracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
       |      FROM embeddings e CROSS JOIN q),
       |r AS (SELECT query_id, vec_id, dist,
       |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
       |      FROM d)
       |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  /** Oracle shared by `knn_hnsw_delete`, `knn_hnsw_compact`. */
  private[queries] def KnnHnswDeleteOracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
       |      FROM embeddings e CROSS JOIN q
       |      WHERE e.vec_id NOT IN (0, 1, 2))
       |SELECT vec_id, dist,
       |       CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
       |FROM d ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** Oracle shared by `knn_hnsw_check`, `knn_lsh_check`. */
  private[queries] def KnnHnswCheckOracle: String =
    """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS bad_dist,
      |       CAST(0 AS BIGINT) AS rank_violations, CAST(0 AS BIGINT) AS over_k,
      |       CAST(1 AS BIGINT) AS recall_ok""".stripMargin

  /** Oracle shared by `knn_join_top5`, `knn_join_agg_top5`. */
  private[queries] def KnnJoinTop5Oracle: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
       |d AS (SELECT q.query_id, e.vec_id, ${l2SqSql("e.embedding", "q.qe")} AS dist
       |      FROM embeddings e CROSS JOIN q),
       |r AS (SELECT query_id, vec_id, dist,
       |             CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS INTEGER) AS rank
       |      FROM d)
       |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 5
       |ORDER BY query_id ASC, rank ASC""".stripMargin

  /** Oracle shared by `stream_pack_ids`, `seq_pack`. */
  private[queries] def StreamPackIdsOracle: String =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id,
       |         CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) AS BIGINT) - 1)
       |                        * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 8 AS INTEGER) AS part,
       |         CAST(len($ToksSql) AS BIGINT) AS n_tokens
       |  FROM documents),
       |d AS (SELECT doc_id, part, n_tokens,
       |             CAST(row_number() OVER (PARTITION BY part ORDER BY doc_id) AS INTEGER) AS rn
       |      FROM base),
       |pack(part, rn, doc_id, bin_idx, fill) AS (
       |  SELECT part, rn, doc_id, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.part, d.rn, d.doc_id,
       |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.bin_idx ELSE p.bin_idx + 1 END,
       |         CASE WHEN p.fill + d.n_tokens <= 256 THEN p.fill + d.n_tokens ELSE d.n_tokens END
       |  FROM pack p JOIN d ON d.part = p.part AND d.rn = p.rn + 1)
       |SELECT doc_id, part, bin_idx FROM pack ORDER BY doc_id""".stripMargin

  /** Oracle shared by `orc_roundtrip`, `csv_roundtrip`. */
  private[queries] def OrcRoundtripOracle: String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       |       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       |       CAST(bit_xor(CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(text)[i]) AS BIGINT) - 1)
       |                                   * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS BIGINT)) AS BIGINT) AS text_hash_xor
       |FROM documents""".stripMargin

  /** Oracle shared by `decontaminate`, `decontaminate_bloom`. */
  private[queries] def DecontaminateOracle: String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |cs AS (SELECT doc_id,
       |              unnest(list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])) AS shingle
       |       FROM t WHERE len(toks) >= 5),
       |bs AS (SELECT doc_id + 9000000 AS bench_id,
       |              unnest(list_distinct([array_to_string(toks[i:i+4], ' ') FOR i IN range(1, len(toks) - 3)])) AS shingle
       |       FROM t WHERE doc_id % 100 = 0 AND len(toks) >= 5),
       |rare AS (SELECT shingle FROM cs GROUP BY 1 HAVING count(*) <= 500)
       |SELECT cs.doc_id, bs.bench_id, CAST(count(*) AS BIGINT) AS n_shared
       |FROM cs JOIN rare USING (shingle) JOIN bs USING (shingle)
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY doc_id, bench_id""".stripMargin

  /** Oracle shared by `knn_ivf_hnsw`, `knn_ivf_pruned`,
    * `sql_ivf_topk`. */
  private[queries] def KnnIvfHnswOracle: String =
    s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL
       |           SELECT 2000000 + r.i AS vec_id, e.embedding
       |           FROM embeddings e CROSS JOIN range(10) r(i) WHERE e.vec_id = 0),
       |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT c.vec_id AS vec_id, ${l2SqSql("c.embedding", "q.qe")} AS dist
       |FROM c CROSS JOIN q
       |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** Oracle shared by `events_asof`, `events_asof_salted`. */
  private[queries] def EventsAsofOracle: String =
    """WITH clicks AS (SELECT user_id, ts AS cts, event_id FROM events WHERE event_type = 'click'),
      |s AS (SELECT user_id, ts AS sts FROM events WHERE event_type = 'signup')
      |SELECT c.user_id, epoch_us(c.cts) AS click_us, c.event_id, epoch_us(s.sts) AS signup_us
      |FROM clicks c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.cts >= s.sts
      |ORDER BY c.user_id, click_us, event_id""".stripMargin
}
