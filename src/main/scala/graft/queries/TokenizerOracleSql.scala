package graft
package queries

/** DuckDB SQL builders for the tokenizer oracles: BPE, byte-level
  * BPE, Unigram, WordPiece, SFT masking, token windows and
  * sequence packing. */
object TokenizerOracleSql {
  import Fixtures._, OracleSql._

  /** BPE merge-training oracle: N unrolled rounds over the
    * distinct-word table — weighted adjacent-pair counts, the
    * (n desc, a, b) argmax, and the greedy merge application as the
    * IDENTICAL left fold (list_reduce seeded with the first symbol;
    * Spark's `aggregate` seeded the same way), so self-pair runs
    * compress identically on both sides. */
  private[queries] lazy val BpeOracleSql: String = {
    val n = 6
    def layer(r: Int): String =
      s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
         |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
         |m$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2
         |        ORDER BY n DESC, a, b LIMIT 1),
         |w$r AS (SELECT cnt, list_reduce(list_transform(syms, s -> [s]),
         |          (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |                      THEN list_append(acc[1:-2], m.a || m.b)
         |                      ELSE list_concat(acc, x) END) AS syms
         |        FROM w${r - 1}, m$r m)""".stripMargin
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to n).map(layer).mkString(",\n")}
       |SELECT * FROM (${(1 to n).map(r =>
           s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, " +
             s"CAST(n AS BIGINT) AS pair_count FROM m$r")
           .mkString(" UNION ALL ")})
       |ORDER BY merge_rank""".stripMargin
  }

  /** BPE tokenize oracle: the same six training rounds but carrying
    * the WORD key through every layer (word → syms is injective, so
    * grouping by word equals grouping by syms), then every document
    * re-tokenized by joining its positional words to the final symbol
    * table and flattening in position order — the md5 byte-checks the
    * full train→apply path. */
  private[queries] lazy val BpeTokenizeOracleSql: String = {
    val n = 6
    def layer(r: Int): String =
      s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
         |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
         |m$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2
         |        ORDER BY n DESC, a, b LIMIT 1),
         |w$r AS (SELECT word, list_reduce(list_transform(syms, s -> [s]),
         |          (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
         |                      THEN list_append(acc[1:-2], m.a || m.b)
         |                      ELSE list_concat(acc, x) END) AS syms, cnt
         |        FROM w${r - 1}, m$r m)""".stripMargin
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to n).map(layer).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$n.syms
       |         FROM pos p JOIN w$n ON w$n.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  /** One unrolled BATCHED-BPE training round for the SQL oracle,
    * shared by the merges and tokenize replays ([[graft.text.Bpe]]
    * `learnRounds`): weighted adjacent-pair counts over the word
    * table, the top-`candCap` ranked candidates, the greedy
    * independent-set pick (keep a candidate iff it shares no symbol —
    * over {lhs, rhs, lhs||rhs} — with an already-kept one) UNROLLED
    * as `batchSize` chained 1-row CTEs (pick k = the lowest-ranked
    * candidate not conflicting with picks 1..k-1 via NOT EXISTS; an
    * empty pick keeps every later pick empty through the same NOT
    * EXISTS, so under-full rounds replay exactly), and the round's
    * combined greedy fold keyed by a chr(1)-separated lookup map —
    * the IDENTICAL single-pass application Spark runs
    * (`applyMergeBatch`), legal because kept rules are pairwise
    * symbol-disjoint. The word chain, candidate tables, and pick
    * accumulators are MATERIALIZED: each w-layer is referenced by two
    * consumers and each pick table by all later picks, so DuckDB's
    * default CTE inlining would re-evaluate the upstream chain
    * exponentially (measured: >10 min inlined, ~5 s materialized).
    * A recursive-CTE formulation of the pick was rejected: DuckDB
    * 1.0 mis-evaluates recursive CTEs consumed under materialized
    * upstreams (count()/ORDER BY over them silently returns empty).
    * `carry` propagates extra word-table columns (the tokenize
    * replay keeps the word key). */
  private[queries] def bpeBatchRoundSql(
      r: Int, batchSize: Int, candCap: Int, carry: String): String = {
    val carrySel = if (carry.isEmpty) "" else s"s.$carry, "
    val conflict =
      "(c.a IN (s.a, s.b, s.a || s.b) OR c.b IN (s.a, s.b, s.a || s.b) " +
        "OR c.a || c.b IN (s.a, s.b, s.a || s.b))"
    val picks = (1 to batchSize).map { k =>
      val guard =
        if (k == 1) ""
        else s"\n  WHERE NOT EXISTS (SELECT 1 FROM q${r}_${k - 1} s WHERE $conflict)"
      val acc = (1 to k)
        .map(j => s"SELECT a, b, n, rk FROM x${r}_$j").mkString(" UNION ALL ")
      s"""x${r}_$k AS (SELECT a, b, n, rk FROM r$r c$guard
         |  ORDER BY rk LIMIT 1),
         |q${r}_$k AS MATERIALIZED (SELECT * FROM ($acc))""".stripMargin
    }.mkString(",\n")
    s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
       |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
       |c$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2),
       |r$r AS MATERIALIZED (
       |  SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rk
       |  FROM c$r ORDER BY rk LIMIT $candCap),
       |$picks,
       |s$r AS (SELECT a, b, n, row_number() OVER (ORDER BY rk) AS sel_rank
       |        FROM q${r}_$batchSize),
       |m$r AS (SELECT map(coalesce(list(a || chr(1) || b), []),
       |                   coalesce(list(a || b), [])) AS mp FROM s$r),
       |w$r AS MATERIALIZED (SELECT ${carrySel}s.cnt,
       |          list_reduce(list_transform(s.syms, x -> [x]),
       |            (acc, x) -> CASE
       |              WHEN len(map_extract(m.mp, acc[-1] || chr(1) || x[1])) > 0
       |              THEN list_append(acc[1:-2],
       |                     map_extract(m.mp, acc[-1] || chr(1) || x[1])[1])
       |              ELSE list_concat(acc, x) END) AS syms
       |        FROM w${r - 1} s, m$r m)""".stripMargin
  }

  /** Batched BPE merge-training oracle at a realistic rule count:
    * `rounds` unrolled [[bpeBatchRoundSql]] layers, then the selected
    * rules of every round in round-major order with a global
    * merge_rank — byte-for-byte the `learnMergesBatched` contract
    * (pair_count measured at round start, before any of the round's
    * merges apply). */
  private[queries] def bpeBatchOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")},
       |sel AS (${(1 to rounds).map(r =>
           s"SELECT $r AS rnd, sel_rank, a, b, n FROM s$r")
           .mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd, sel_rank) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Batched BPE vocabulary oracle: the same unrolled training rounds,
    * then the FINAL word table's symbols aggregated by weighted count —
    * the vocab.json next to the merges list, byte-checked. */
  private[queries] def bpeBatchVocabOracleSql(
      rounds: Int, batchSize: Int, candCap: Int, topK: Int): String =
    s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")}
       |SELECT sym AS subword, CAST(sum(cnt) AS BIGINT) AS n_occurrences
       |FROM (SELECT unnest(syms) AS sym, cnt FROM w$rounds)
       |GROUP BY 1 ORDER BY n_occurrences DESC, subword LIMIT $topK""".stripMargin

  /** Batched BPE tokenize oracle: the same unrolled training rounds
    * but carrying the WORD key through every layer (word → syms is
    * injective, so grouping by word equals grouping by syms), then
    * every document re-tokenized by joining its positional words to
    * the final symbol table and flattening in position order — the
    * md5 byte-checks the full batched train→apply path at the full
    * rule count. */
  private[queries] def bpeBatchTokenizeOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms,
       |              count(*) AS cnt
       |       FROM (SELECT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0 GROUP BY 1),
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "word")).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$rounds.syms
       |         FROM pos p JOIN w$rounds ON w$rounds.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** External-merge-list BPE tokenize oracle: the shipped fixture's
    * 1.1k rank-ordered rules inlined as a VALUES rank table, then the
    * standard priority loop UNROLLED as exactly `maxIters` steps over
    * the distinct-word table — per step, each word's lowest-ranked
    * present adjacent pair (pair unnest → rank join → arg_min) is
    * merged via the IDENTICAL left fold every BPE oracle here uses
    * (list_reduce seeded with the first symbol); a word with no
    * rankable pair passes through (LEFT JOIN + CASE), so converged
    * words idle through remaining steps exactly as the kernel's
    * early-exit leaves them. Positional rejoin as in the other
    * tokenize oracles. Step count bounded by word LENGTH, never rule
    * count — the scalability claim, stated in SQL. */
  /** One unrolled priority-loop step for the external-merge-list
    * oracles (shared by the char-level and byte-level ranked applies):
    * per word, the lowest-ranked present adjacent pair (pair unnest →
    * rank join → arg_min) merged via the shared left fold; converged
    * words pass through the LEFT JOIN + CASE untouched. */
  private[queries] def rankedPriorityLayerSql(k: Int): String =
    s"""b$k AS (SELECT p.word, arg_min(r.lhs, r.rnk) AS a, arg_min(r.rhs, r.rnk) AS b
       |  FROM (SELECT word, syms[i] AS x, syms[i+1] AS y
       |        FROM w${k - 1}, unnest(range(1, len(syms))) AS u(i)) p
       |  JOIN ranks r ON r.lhs = p.x AND r.rhs = p.y
       |  GROUP BY p.word),
       |w$k AS MATERIALIZED (SELECT w.word,
       |  CASE WHEN b.a IS NULL THEN w.syms
       |  ELSE list_reduce(list_transform(w.syms, s -> [s]),
       |    (acc, x) -> CASE WHEN acc[-1] = b.a AND x[1] = b.b
       |                THEN list_append(acc[1:-2], b.a || b.b)
       |                ELSE list_concat(acc, x) END) END AS syms
       |  FROM w${k - 1} w LEFT JOIN b$k b USING (word))""".stripMargin

  /** Rank table VALUES body for an external merge list. */
  private[queries] def ranksValuesSql(merges: Seq[(String, String)]): String = {
    require(merges.forall { case (a, b) => !a.contains("'") && !b.contains("'") },
      "fixture symbols must be quote-free to inline as SQL literals")
    merges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1},'$a','$b')" }.mkString(",")
  }

  private[queries] def bpeExtTokenizeOracleSql(maxIters: Int): String = {
    val values = ranksValuesSql(graft.text.Bpe.externalFixtureMerges())
    s"""WITH ranks AS MATERIALIZED (SELECT * FROM (VALUES $values) AS r(rnk, lhs, rhs)),
       |t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (SELECT word, list_append(string_split(word, ''), '</w>') AS syms
       |       FROM (SELECT DISTINCT unnest(toks) AS word FROM t)
       |       WHERE len(word) > 0),
       |${(1 to maxIters).map(rankedPriorityLayerSql).mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$maxIters.syms
       |         FROM pos p JOIN w$maxIters ON w$maxIters.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin
  }

  /** The GPT-2 production inference path's oracle: byte-level
    * word-carrying w0 (raw pretokens, byte symbolization), the
    * external BYTE-LEVEL rank table, `maxIters` unrolled priority
    * steps, positional pretoken rejoin. */
  /** Shared prefix of the GPT-2-path oracles: ranks, byte-level
    * word-carrying w0, the unrolled priority layers, and per-doc
    * subword lists (`agg(doc_id, subs)`). */
  private[queries] def gpt2SubwordsSqlPrefix(maxIters: Int,
      merges: Seq[(String, String)] =
        graft.text.ByteLevel.externalFixtureMerges(),
      extSql: String = extDocsSqlCte): String = {
    val values = ranksValuesSql(merges)
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    s"""WITH ranks AS MATERIALIZED (SELECT * FROM (VALUES $values) AS r(rnk, lhs, rhs)),
       |${byteLevelW0Sql(carryWord = true, extSql)},
       |${(1 to maxIters).map(rankedPriorityLayerSql).mkString(",\n")},
       |pos AS (SELECT doc_id, u.i AS pos, ptk[u.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ptk FROM ext),
       |             unnest(range(1, len(ptk) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$maxIters.syms
       |         FROM pos p JOIN w$maxIters ON w$maxIters.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)""".stripMargin
  }

  private[queries] def bpeGpt2TokenizeOracleSql(maxIters: Int): String =
    s"""${gpt2SubwordsSqlPrefix(maxIters)}
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** The gpt2-path per-document id lists as CTEs ending at
    * `ids(doc_id, tids)` — shared by the token-ids, windowing, and
    * packing oracles. */
  private[queries] def gpt2IdsCtes(maxIters: Int,
      extSql: String = extDocsSqlCte): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    s"""${gpt2SubwordsSqlPrefix(maxIters, extSql = extSql)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |ids AS (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v)""".stripMargin
  }

  /** tokenizer.json oracle: merges AND the vocab map both come from
    * the PARSED fixture (the reader under test feeds the oracle too;
    * the parse itself is pinned separately by handcrafted-JSON and
    * byte-compare provenance specs), `<|endoftext|>` appended per
    * document at the file's added-token id. */
  private[queries] def hfTokenizerOracleSql(maxIters: Int): String = {
    val m = graft.text.HfTokenizer.externalFixture()
    val values = m.vocabIds.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    val eosId = m.addedId(graft.text.HfTokenizer.EndOfText).get
    s"""${gpt2SubwordsSqlPrefix(maxIters, m.merges)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |ids AS (SELECT a.doc_id,
       |          list_append(list_transform(a.subs, s -> map_extract(v.m, s)[1]),
       |                      $eosId) AS tids
       |        FROM agg a, vmap v)
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN ids i USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  private[queries] def bpeTokenIdsOracleSql(maxIters: Int): String =
    s"""${gpt2IdsCtes(maxIters)}
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN ids i USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** SFT mask oracle: the turn table rebuilt in SQL (normalized
    * tokens in `turnLen`-token windows, surrogate key doc·stride +
    * turn), the gpt2 id machinery replayed over the TURN texts, then
    * the same framing — role-marker ids prepended (specials after the
    * merge block, ids computed Scala-side and inlined), EOS appended,
    * mask 1 exactly on assistant-content ids. Empty turns restore as
    * [] through the LEFT join, mirroring the Spark side. */
  private[queries] def sftMaskOracleSql(maxIters: Int, turnLen: Int, keyStride: Long): String = {
    val merges = graft.text.ByteLevel.externalFixtureMerges()
    val eosId = 256 + merges.size
    val uId = eosId + 1
    val aId = eosId + 2
    val turnExt =
      s"""WITH raw AS ($extDocsSqlCte),
         |sft_t AS (SELECT doc_id, $ToksSql AS toks FROM raw),
         |sft_tr AS (SELECT doc_id, CAST(u.k AS BIGINT) AS turn_idx,
         |    array_to_string(list_slice(toks,
         |      CAST(u.k * $turnLen + 1 AS INT),
         |      CAST(u.k * $turnLen + $turnLen AS INT)), ' ') AS text
         |  FROM sft_t, unnest(range(0, (len(toks) - 1) // $turnLen + 1)) AS u(k))
         |SELECT doc_id * $keyStride + turn_idx AS doc_id, text FROM sft_tr""".stripMargin
    s"""${gpt2IdsCtes(maxIters, extSql = turnExt)},
       |pt AS (SELECT e.doc_id // $keyStride AS doc_id,
       |              e.doc_id % $keyStride AS turn_idx,
       |              coalesce(i.tids, CAST([] AS INTEGER[])) AS tids
       |       FROM ext e LEFT JOIN ids i USING (doc_id)),
       |fr AS (SELECT doc_id, turn_idx,
       |         list_prepend(CASE WHEN turn_idx % 2 = 1 THEN $aId ELSE $uId END, tids) AS ti,
       |         list_prepend(0, list_transform(tids,
       |           x -> CASE WHEN turn_idx % 2 = 1 THEN 1 ELSE 0 END)) AS tm
       |       FROM pt),
       |asm AS (SELECT doc_id,
       |          list_append(flatten(list(ti ORDER BY turn_idx)), $eosId) AS ids,
       |          list_append(flatten(list(tm ORDER BY turn_idx)), 0) AS msk
       |        FROM fr GROUP BY 1)
       |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(msk, x -> x = 1)) AS BIGINT) AS n_loss,
       |       md5(array_to_string(ids, ',')) AS ids_md5,
       |       md5(array_to_string(msk, ',')) AS mask_md5
       |FROM asm ORDER BY doc_id""".stripMargin
  }

  /** Token-window oracle: the replayed gpt2 ids sliced into
    * window/stride chunks with the identical 1-based arithmetic
    * (tail window kept short). */
  private[queries] def tokenWindowsOracleSql(maxIters: Int, window: Int, stride: Int): String =
    s"""${gpt2IdsCtes(maxIters)},
       |win AS (SELECT i.doc_id, CAST(u.k AS INT) AS win_idx,
       |          list_slice(i.tids, u.k * $stride + 1, u.k * $stride + $window) AS w
       |        FROM ids i,
       |             unnest(range(0, (len(i.tids) - 1) // $stride + 1)) AS u(k))
       |SELECT doc_id, win_idx, CAST(len(w) AS BIGINT) AS n_win,
       |       md5(array_to_string(w, ',')) AS win_md5
       |FROM win ORDER BY doc_id, win_idx""".stripMargin

  /** Detokenize oracle: the gpt2 ids prefix, then the DECODE direction
    * replayed independently in SQL — each id through the reverse vocab
    * map to its subword, subwords concatenated, every symbol char
    * through the reverse 256-row byte map to its raw byte, bytes
    * hex-assembled and UTF-8-decoded. `lossless` compares the decoded
    * text to the ORIGINAL raw text, so the round-trip itself (not just
    * Spark-vs-oracle agreement) sits under the hash gate. */
  private[queries] def detokenizeOracleSql(maxIters: Int): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    s"""${gpt2SubwordsSqlPrefix(maxIters)},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m,
       |                map(list(id ORDER BY id), list(sym ORDER BY id)) AS rm
       |         FROM (VALUES $values) AS v(sym, id)),
       |sbmap AS (SELECT map(list(s ORDER BY b), list(b ORDER BY b)) AS m
       |          FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |ids AS (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v),
       |symchars AS (SELECT i.doc_id,
       |               string_split(array_to_string(
       |                 list_transform(i.tids, t -> map_extract(v.rm, t)[1]), ''), '') AS sl
       |             FROM ids i, vmap v),
       |rt AS (SELECT doc_id,
       |         decode(unhex(string_agg(
       |           lpad(to_hex(map_extract(sb.m, sl[u.i])[1]), 2, '0'), ''
       |           ORDER BY u.i))) AS text_rt
       |       FROM symchars, sbmap sb, unnest(range(1, len(sl) + 1)) AS u(i)
       |       GROUP BY doc_id)
       |SELECT e.doc_id, r.text_rt, r.text_rt = e.text AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  /** Unrolled Viterbi-DP unroll bound for the unigram oracles: must be
    * >= the longest corpus word (8 measured across all SFs;
    * spec-asserted). Words shorter than a layer pass through the
    * layer's CASE untouched, so surplus layers are no-ops — the
    * unroll-exactly-N discipline shared with the BPE priority-layer
    * oracles. */
  private[queries] val UnigramUnroll = 12

  /** One Viterbi segmentation pass for the unigram oracles (the SQL
    * twin of `UnigramViterbiExpr`) — FULLY RELATIONAL, deliberately
    * free of list_reduce: DuckDB 1.0 evaluates list_reduce lambdas
    * that capture row columns (the backtrack chain) or carry CASE
    * stalls NONDETERMINISTICALLY under parallel execution (observed:
    * the same query alternating row counts 45/46/47 over identical
    * data). Structure: candidate (word, i, k) windows -> LEFT JOIN
    * the previous counts (quantized-integer costs inline, single-char
    * UNK fallback) -> per-(word, i) pivot to fixed c1..c4 slots ->
    * `UnigramUnroll` chained dp layers (each a plain scalar
    * least/CASE over the carried dp list, ties to the smallest j =
    * longest piece via the c4-first CASE order) -> unrolled backtrack
    * columns p1..pU -> pieces sliced and ''-filtered. */
  private[queries] val UnigramCountCostSql =
    "-floor(1000000 * ln(CAST(v.n AS DOUBLE) / t.total))"

  private[queries] def unigramSegSql(seg: String, vprev: String, maxPieceLen: Int,
      wordsCte: String = "uw", unroll: Int = UnigramUnroll,
      costSql: String = UnigramCountCostSql): String = {
    require(maxPieceLen == 4, "the unrolled 4-slot edge pivot is written for maxPieceLen = 4")
    val U = unroll
    def ak(k: Int) = s"(w.d[-$k].c + e.c$k)"
    val best = s"least(${ak(4)}, ${ak(3)}, ${ak(2)}, ${ak(1)})"
    val dpLayers = (1 to U).map { i =>
      s"""${seg}_d$i AS (
         |  SELECT w.word, w.cnt, w.n,
         |    CASE WHEN w.n < $i THEN w.d
         |      ELSE list_append(w.d, {'c': $best,
         |        'b': CASE WHEN $best = ${ak(4)} THEN ${i - 4}
         |                  WHEN $best = ${ak(3)} THEN ${i - 3}
         |                  WHEN $best = ${ak(2)} THEN ${i - 2}
         |                  ELSE ${i - 1} END})
         |    END AS d
         |  FROM ${seg}_d${i - 1} w LEFT JOIN ${seg}_ep e ON e.word = w.word AND e.i = $i)""".stripMargin
    }.mkString(",\n")
    val btLayers = (1 to U).map { t =>
      s"""${seg}_bt$t AS (
         |  SELECT *, CASE WHEN p${t - 1} = 0 THEN 0 ELSE d[p${t - 1} + 1].b END AS p$t
         |  FROM ${seg}_bt${t - 1})""".stripMargin
    }.mkString(",\n")
    val pieces = (U to 1 by -1)
      .map(t => s"substring(word, p$t + 1, p${t - 1} - p$t)").mkString(", ")
    s"""${seg}_tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM $vprev),
       |${seg}_cand AS (
       |  SELECT w.word, w.cnt, length(w.word) AS n, ui.i AS i, uk.k AS k,
       |    CASE WHEN uk.k <= ui.i
       |      THEN substring(w.word, CAST(ui.i - uk.k + 1 AS INT), CAST(uk.k AS INT)) END AS piece
       |  FROM $wordsCte w,
       |       unnest(range(1, length(w.word) + 1)) AS ui(i),
       |       unnest(range(1, $maxPieceLen + 1)) AS uk(k)),
       |${seg}_edge AS (
       |  SELECT c.word, c.cnt, c.n, c.i, c.k,
       |    CASE WHEN c.k = 1 AND c.piece IS NOT NULL
       |           THEN coalesce(CAST($costSql AS BIGINT),
       |                         CAST(${graft.text.Unigram.UnkCost} AS BIGINT))
       |         ELSE CAST($costSql AS BIGINT) END AS cost
       |  FROM ${seg}_cand c CROSS JOIN ${seg}_tot t LEFT JOIN $vprev v ON v.piece = c.piece),
       |${seg}_ep AS MATERIALIZED (
       |  SELECT word, cnt, n, i,
       |    max(CASE WHEN k = 1 THEN cost END) AS c1,
       |    max(CASE WHEN k = 2 THEN cost END) AS c2,
       |    max(CASE WHEN k = 3 THEN cost END) AS c3,
       |    max(CASE WHEN k = 4 THEN cost END) AS c4
       |  FROM ${seg}_edge GROUP BY 1, 2, 3, 4),
       |${seg}_d0 AS (
       |  SELECT word, cnt, n, [{'c': CAST(0 AS BIGINT), 'b': 0}] AS d
       |  FROM (SELECT DISTINCT word, cnt, n FROM ${seg}_ep)),
       |$dpLayers,
       |${seg}_bt0 AS (SELECT word, cnt, n, d, CAST(n AS INT) AS p0 FROM ${seg}_d$U),
       |$btLayers,
       |$seg AS MATERIALIZED (
       |  SELECT word, cnt,
       |    list_filter([$pieces], x -> x <> '') AS ps
       |  FROM ${seg}_bt$U)""".stripMargin
  }

  /** The unigram trainer's CTE chain: weighted distinct words, seed
    * substring counts (all singles + top-`topMulti` multis), then
    * `rounds` Viterbi-EM rounds (per-word segmentation under the
    * previous counts' quantized costs -> new weighted counts) —
    * `Unigram.trainVocab` replayed. */
  private[queries] def unigramTrainCtes(rounds: Int, maxPieceLen: Int, topMulti: Int,
      marker: Boolean = false, coveragePermyriad: Int = 10000): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    val admitUnk = coveragePermyriad == 10000
    val roundCtes = (1 to rounds).map { r =>
      val agg =
        s"""SELECT piece, sum(cnt) AS n
           |  FROM (SELECT cnt, unnest(ps) AS piece FROM useg$r) GROUP BY 1""".stripMargin
      // under coverage, UNK-fallback emissions may not re-enter the
      // vocabulary: keep only pieces of the previous round
      val body = if (admitUnk) agg
        else s"""SELECT piece, n FROM ($agg)
                |  WHERE piece IN (SELECT piece FROM v${r - 1})""".stripMargin
      s"""${unigramSegSql(s"useg$r", s"v${r - 1}", maxPieceLen)},
         |v$r AS MATERIALIZED ($body)""".stripMargin
    }.mkString(",\n")
    // character coverage: singles kept while the mass accumulated
    // BEFORE them is short of coverage (integer permyriad arithmetic,
    // exactly the Scala trainer's walk); multis may not contain an
    // excluded char, filtered BEFORE the top-K cut
    val v0Singles = if (admitUnk)
      "SELECT piece, n FROM usub WHERE length(piece) = 1"
    else
      s"""SELECT piece, n FROM (
         |    SELECT piece, n,
         |      coalesce(sum(n) OVER (ORDER BY n DESC, piece
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         |      sum(n) OVER () AS tot
         |    FROM usub WHERE length(piece) = 1)
         |  WHERE cumb * 10000 < $coveragePermyriad * tot""".stripMargin
    val v0Multis = if (admitUnk)
      s"""SELECT piece, n FROM (SELECT piece, n FROM usub WHERE length(piece) > 1
         |                        ORDER BY n DESC, piece LIMIT $topMulti)""".stripMargin
    else
      s"""SELECT piece, n FROM (
         |    SELECT piece, n FROM usub
         |    WHERE length(piece) > 1 AND piece NOT IN (
         |      SELECT DISTINCT piece FROM (
         |        SELECT piece, unnest(string_split(piece, '')) AS ch
         |        FROM usub WHERE length(piece) > 1)
         |      WHERE ch NOT IN (SELECT piece FROM v0s))
         |    ORDER BY n DESC, piece LIMIT $topMulti)""".stripMargin
    val v0 = if (admitUnk)
      s"""v0 AS MATERIALIZED (
         |  $v0Singles
         |  UNION ALL
         |  $v0Multis)""".stripMargin
    else
      s"""v0s AS MATERIALIZED (
         |  $v0Singles),
         |v0 AS MATERIALIZED (
         |  SELECT piece, n FROM v0s
         |  UNION ALL
         |  $v0Multis)""".stripMargin
    s"""t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
       |uw AS MATERIALIZED (SELECT ${mk}word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM t)
       |  WHERE len(word) > 0 GROUP BY 1),
       |usub AS MATERIALIZED (SELECT substring(word, CAST(ui.i AS INT), CAST(ul.l AS INT)) AS piece, sum(cnt) AS n
       |  FROM uw, unnest(range(1, length(word) + 1)) AS ui(i),
       |       unnest(range(1, least($maxPieceLen, length(word) - ui.i + 1) + 1)) AS ul(l)
       |  GROUP BY 1),
       |$v0,
       |$roundCtes""".stripMargin
  }

  private[queries] def unigramVocabOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)}
       |SELECT piece, CAST(n AS BIGINT) AS n_count
       |FROM v$rounds ORDER BY n_count DESC, piece""".stripMargin

  /** Train + tokenize oracle: the training chain, one more Viterbi
    * pass under the FINAL counts' costs, then the shared positional
    * rejoin. */
  private[queries] def unigramTokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)},
       |${unigramSegSql("usegF", s"v$rounds", maxPieceLen)},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, s.ps
       |         FROM pos p JOIN usegF s ON s.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(ps ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.subs) AS BIGINT) AS n_pieces,
       |       md5(array_to_string(a.subs, ' ')) AS pieces_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Train + tokenize + SentencePiece-convention id emission: the
    * tokenize chain, ids 3+rank assigned by row_number over the final
    * vocabulary's (count desc, piece) order, OOV fallback pieces to
    * <unk>=0 via LEFT JOIN + coalesce, </s>=2 appended per document. */
  private[queries] def unigramIdsOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramTrainCtes(rounds, maxPieceLen, topMulti)},
       |${unigramSegSql("usegF", s"v$rounds", maxPieceLen)},
       |vid AS (SELECT piece,
       |          CAST(2 + row_number() OVER (ORDER BY n DESC, piece) AS INT) AS id
       |        FROM v$rounds),
       |wpos AS (SELECT s.word, u.i AS i, s.ps[u.i] AS piece
       |         FROM usegF s, unnest(range(1, len(s.ps) + 1)) AS u(i)),
       |wid AS (SELECT w.word, list(coalesce(v.id, 0) ORDER BY w.i) AS ids
       |        FROM wpos w LEFT JOIN vid v ON v.piece = w.piece
       |        GROUP BY w.word),
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w.ids
       |         FROM pos p JOIN wid w ON w.word = p.word),
       |agg AS (SELECT doc_id,
       |          list_append(flatten(list(ids ORDER BY pos)), 2) AS ids
       |        FROM dtok GROUP BY 1)
       |SELECT t.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM t JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Shared byte-level preamble CTEs: the extended corpus, the 256-row
    * byte→symbol map (GPT-2 bytes_to_unicode, inlined), pretokens via
    * the RE2-compatible pattern, and the round-0 word table built by
    * UTF-8-encoding each code point IN SQL (the encoding arithmetic
    * stated as a CASE over the code point — no blob support needed)
    * and mapping every byte through the map. */
  /** Byte-fallback oracle — train on `documents`, apply to the
    * EXTENDED corpus (whose fixture rows carry characters the training
    * corpus never saw — exactly when the fallback fires): the final
    * vocabulary's costs segment the extended word table (unroll 36 ≥
    * the 34-char fixture word), pieces found in the vocabulary map to
    * 259+rank, misses (always single OOV characters) expand to their
    * UTF-8 bytes at 3+byte, `</s>`=2 per document. */
  /** The byte-fallback APPLY chain shared by the ids and detokenize
    * oracles: train on `documents` (optionally ▁-marked), segment the
    * EXTENDED corpus's word table under the final costs (unroll 36 ≥
    * the longest marked fixture word), map pieces to 259+rank ids,
    * expand misses to UTF-8 byte ids, flatten per document + `</s>` —
    * ends at `xagg(doc_id, ids)` with `xt` still in scope. */
  private[queries] def unigramApplyIdsCtes(rounds: Int, maxPieceLen: Int, topMulti: Int,
      marker: Boolean, applyToExt: Boolean = true,
      coveragePermyriad: Int = 10000): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    val corpus = if (applyToExt)
      s"""ext AS ($extDocsSqlCte),
         |xt AS (SELECT doc_id, $ToksSql AS toks FROM ext)""".stripMargin
    else "xt AS (SELECT doc_id, toks FROM t)"
    s"""${unigramTrainCtes(rounds, maxPieceLen, topMulti, marker, coveragePermyriad)},
       |$corpus,
       |xw AS MATERIALIZED (SELECT ${mk}word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM xt)
       |  WHERE len(word) > 0 GROUP BY 1),
       |${unigramSegSql("usegX", s"v$rounds", maxPieceLen, wordsCte = "xw", unroll = 36)},
       |vid AS (SELECT piece,
       |          CAST(${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces - 1}
       |               + row_number() OVER (ORDER BY n DESC, piece) AS INT) AS id
       |        FROM v$rounds),
       |${unigramIdsChainCtes(marker, graft.text.Unigram.ByteBase, graft.text.Unigram.EosId)}""".stripMargin
  }

  /** The piece→ids mapping chain shared by every id-emitting unigram
    * oracle: positions of `usegX`'s pieces LEFT JOIN `vid` (both
    * defined by the caller), misses byte-expanded at `byteBase`,
    * per-word flatten, positional document rejoin, `eosId` appended —
    * ends at `xagg(doc_id, ids)`. */
  private[queries] def unigramIdsChainCtes(marker: Boolean, byteBase: Int, eosId: Int): String = {
    val mk = if (marker) s"'${graft.text.Unigram.SpMarker}' || " else ""
    s"""wj AS (SELECT w.word, w.i, w.piece, v.id
       |       FROM (SELECT s.word, u.i AS i, s.ps[u.i] AS piece
       |             FROM usegX s, unnest(range(1, len(s.ps) + 1)) AS u(i)) w
       |       LEFT JOIN vid v ON v.piece = w.piece),
       |fb AS (SELECT word, i,
       |          flatten(list(list_transform($Utf8OfCpSql,
       |                         b -> CAST($byteBase + b AS INT))
       |                       ORDER BY j)) AS ids
       |        FROM (SELECT word, i, u.j AS j,
       |                unicode(substring(piece, CAST(u.j AS INT), 1)) AS cp
       |              FROM wj, unnest(range(1, length(piece) + 1)) AS u(j)
       |              WHERE id IS NULL)
       |        GROUP BY word, i),
       |parts AS (SELECT word, i, [id] AS ids FROM wj WHERE id IS NOT NULL
       |          UNION ALL SELECT word, i, ids FROM fb),
       |wid AS (SELECT word, flatten(list(ids ORDER BY i)) AS ids FROM parts GROUP BY word),
       |xpos AS (SELECT doc_id, u.i AS pos, ${mk}toks[u.i] AS word
       |         FROM xt, unnest(range(1, len(toks) + 1)) AS u(i)),
       |xagg AS (SELECT p.doc_id,
       |           list_append(flatten(list(w.ids ORDER BY p.pos)), $eosId) AS ids
       |         FROM xpos p JOIN wid w ON w.word = p.word
       |         GROUP BY p.doc_id)""".stripMargin
  }

  /** External-model oracle: NO training replay — the fixture model's
    * (piece, quantized cost, id) rows are inlined as VALUES (computed
    * by the same loader the query uses), segmentation runs under
    * `cost = v.n` directly, and the shared ids chain maps pieces to
    * the MODEL's ids with byte fallback at the model's BYTE block. */
  private[queries] def unigramExtModelOracleSql(maxPieceLen: Int): String = {
    val model = graft.text.Unigram.externalFixtureModel()
    val rows = model.zipWithIndex
      .filter(_._1.ptype == graft.text.Unigram.SpNormal)
      .map { case (p, i) =>
        s"('${p.piece.replace("'", "''")}',${graft.text.Unigram.modelCostMicros(p.score)},$i)"
      }.mkString(",")
    val eosId = model.indexWhere(p =>
      p.ptype == graft.text.Unigram.SpControl && p.piece == "</s>")
    val byteBase = model.indexWhere(_.ptype == graft.text.Unigram.SpByte)
    s"""WITH mv AS (SELECT * FROM (VALUES $rows) AS m(piece, n, id)),
       |ext AS ($extDocsSqlCte),
       |xt AS (SELECT doc_id, $ToksSql AS toks FROM ext),
       |xw AS MATERIALIZED (SELECT '${graft.text.Unigram.SpMarker}' || word AS word, count(*) AS cnt
       |  FROM (SELECT unnest(toks) AS word FROM xt)
       |  WHERE len(word) > 0 GROUP BY 1),
       |${unigramSegSql("usegX", "mv", maxPieceLen, wordsCte = "xw", unroll = 36,
             costSql = "v.n")},
       |vid AS (SELECT piece, CAST(id AS INT) AS id FROM mv),
       |${unigramIdsChainCtes(marker = true, byteBase = byteBase, eosId = eosId)}
       |SELECT x.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(a.ids,
       |         y -> y >= $byteBase AND y <= ${byteBase + 255})) AS BIGINT) AS n_fallback,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM xt x JOIN xagg a USING (doc_id) ORDER BY x.doc_id""".stripMargin
  }

  /** The (n_tokens, n_fallback, ids_md5) projection shared by the
    * byte-fallback and coverage oracles. */
  private[queries] val unigramIdsFinalSelectSql =
    s"""SELECT x.doc_id, CAST(len(a.ids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(a.ids,
       |         y -> y >= ${graft.text.Unigram.ByteBase}
       |          AND y <= ${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces - 1})) AS BIGINT)
       |         AS n_fallback,
       |       md5(array_to_string(a.ids, ',')) AS ids_md5
       |FROM xt x JOIN xagg a USING (doc_id) ORDER BY x.doc_id""".stripMargin

  private[queries] def unigramByteFallbackOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = false)}
       |$unigramIdsFinalSelectSql""".stripMargin

  /** Character-coverage oracle — train on `documents` with the
    * coverage cut (rare chars excluded from the seed, kept out through
    * the EM rounds), apply byte-fallback ids to the SAME corpus: the
    * excluded in-corpus tail now byte-falls-back, which is the whole
    * point of the knob. */
  private[queries] def unigramCoverageOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int,
      coveragePermyriad: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = false,
             applyToExt = false, coveragePermyriad = coveragePermyriad)}
       |$unigramIdsFinalSelectSql""".stripMargin

  /** Detokenize oracle — the ▁-marked byte-fallback pipeline decoded
    * back: per id, a trained piece contributes its UTF-8 hex, a byte
    * piece its raw byte, control ids nothing; the assembled hex
    * decodes to text, markers become spaces, the dummy-prefix space
    * trims — compared against the pretokenizer's own normalization of
    * the original text. */
  private[queries] def unigramDetokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = true)},
       |dec AS (SELECT a.doc_id, u.i AS i, a.ids[u.i] AS id
       |        FROM xagg a, unnest(range(1, len(a.ids) + 1)) AS u(i)),
       |hexp AS (SELECT d.doc_id, d.i,
       |           CASE WHEN d.id < ${graft.text.Unigram.ByteBase} THEN ''
       |                WHEN d.id < ${graft.text.Unigram.ByteBase + graft.text.Unigram.BytePieces}
       |                  THEN lpad(to_hex(d.id - ${graft.text.Unigram.ByteBase}), 2, '0')
       |                ELSE hex(encode(v.piece)) END AS hx
       |         FROM dec d LEFT JOIN vid v ON v.id = d.id),
       |rt AS (SELECT doc_id,
       |         ltrim(replace(decode(unhex(string_agg(hx, '' ORDER BY i))),
       |                       '${graft.text.Unigram.SpMarker}', ' '), ' ') AS text_rt
       |       FROM hexp GROUP BY doc_id)
       |SELECT e.doc_id, r.text_rt,
       |       r.text_rt = $NormSql AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** Streaming-tokenize oracle: the ▁-marked, coverage-cut,
    * byte-fallback apply over the WHOLE corpus as one batch — equal to
    * the two-micro-batch streaming run because per-batch tokenization
    * is stateless (the property the oracle pins). */
  private[queries] def unigramStreamTokenizeOracleSql(rounds: Int, maxPieceLen: Int, topMulti: Int,
      coveragePermyriad: Int): String =
    s"""WITH ${unigramApplyIdsCtes(rounds, maxPieceLen, topMulti, marker = true,
             applyToExt = false, coveragePermyriad = coveragePermyriad)}
       |$unigramIdsFinalSelectSql""".stripMargin

  // ---- WordPiece (BERT-family) oracles -------------------------------

  /** WordPiece round-0 word table: ##-marked symbolization + weighted
    * counts over `documents` (the training corpus). */
  private[queries] def wpW0Sql: String =
    s"""wpt AS (SELECT $ToksSql AS toks FROM documents),
       |w0 AS MATERIALIZED (
       |  SELECT list_concat([sl[1]], list_transform(sl[2:], c -> '##' || c)) AS syms,
       |         count(*) AS cnt
       |  FROM (SELECT string_split(word, '') AS sl
       |        FROM (SELECT unnest(toks) AS word FROM wpt) WHERE len(word) > 0)
       |  GROUP BY 1)""".stripMargin

  /** One WordPiece training round: weighted adjacent-pair counts,
    * weighted symbol-occurrence counts, the likelihood-score argmax
    * (`n / (n_lhs · n_rhs)` in float64 — exactly the Spark trainer's
    * cast order), ties to (lhs, rhs); then the shared left fold
    * applies the single picked merge (the `##` marker of the right
    * operand drops on merge). An exhausted pair table leaves `s\$r`
    * empty and the LEFT JOIN passes every word through. */
  private[queries] def wpRoundSql(r: Int): String =
    s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i+1] AS b, s.cnt
       |  FROM w${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)),
       |c$r AS (SELECT a, b, sum(cnt) AS n FROM p$r GROUP BY 1, 2),
       |u$r AS (SELECT sym, sum(cnt) AS ns
       |  FROM (SELECT unnest(s.syms) AS sym, s.cnt AS cnt FROM w${r - 1} s)
       |  GROUP BY 1),
       |s$r AS MATERIALIZED (
       |  SELECT c.a, c.b, c.n,
       |    CAST(c.n AS DOUBLE) / (CAST(ga.ns AS DOUBLE) * CAST(gb.ns AS DOUBLE)) AS score,
       |    CASE WHEN c.b LIKE '##%' THEN c.a || c.b[3:] ELSE c.a || c.b END AS m
       |  FROM c$r c JOIN u$r ga ON ga.sym = c.a JOIN u$r gb ON gb.sym = c.b
       |  ORDER BY score DESC, c.a, c.b LIMIT 1),
       |w$r AS MATERIALIZED (SELECT s.cnt,
       |  CASE WHEN m.a IS NULL THEN s.syms ELSE
       |  list_reduce(list_transform(s.syms, x -> [x]),
       |    (acc, x) -> CASE WHEN acc[-1] = m.a AND x[1] = m.b
       |                THEN list_append(acc[1:-2], m.m)
       |                ELSE list_concat(acc, x) END) END AS syms
       |  FROM w${r - 1} s LEFT JOIN s$r m ON TRUE)""".stripMargin

  /** The WordPiece trainer oracle: `numMerges` unrolled single-merge
    * rounds, then every round's pick with a global merge_rank. */
  private[queries] def wpMergesOracleSql(numMerges: Int): String =
    s"""WITH $wpW0Sql,
       |${(1 to numMerges).map(wpRoundSql).mkString(",\n")},
       |sel AS (${(1 to numMerges).map(r =>
           s"SELECT $r AS rnd, a, b, n, score FROM s$r").mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count, score
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Shared prefix of the WordPiece apply oracles: the replayed
    * training rounds, the derived vocabulary (alphabet ∪ merge
    * outputs), the greedy longest-match-first walk UNROLLED as
    * `unroll` piece layers over the EXTENDED corpus's distinct words
    * (per layer: the longest vocab piece at the current position via a
    * length-unnest join + max, candidate lengths bounded by `lmax` —
    * the longest possible piece, every piece being a substring of a
    * training word; an unmatchable position turns the WHOLE word into
    * [UNK], the published is_bad semantics), then the positional
    * rejoin ending at `agg(doc_id, subs)`. */
  private[queries] def wpGreedyAggSqlPrefix(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""WITH ext AS ($extDocsSqlCte),
       |$wpW0Sql,
       |${(1 to numMerges).map(wpRoundSql).mkString(",\n")},
       |sel AS (${(1 to numMerges).map(r =>
           s"SELECT $r AS rnd, m FROM s$r").mkString(" UNION ALL ")}),
       |valph AS (SELECT DISTINCT unnest(syms) AS piece FROM w0),
       |vocab AS MATERIALIZED (SELECT DISTINCT piece FROM
       |  (SELECT piece FROM valph UNION ALL SELECT m AS piece FROM sel)),
       |${wpGreedyTailSql(unroll, lmax)}""".stripMargin

  /** The greedy-walk tail shared by the trained-vocab and external-
    * vocab WordPiece oracles: consumes `ext(doc_id, text)` and
    * `vocab(piece)` CTEs, produces `agg(doc_id, subs)` via `unroll`
    * longest-match layers (candidate lengths bounded by `lmax`) and
    * the positional rejoin. */
  private[queries] def wpGreedyTailSql(unroll: Int, lmax: Int): String =
    s"""xt AS (SELECT doc_id, $ToksSql AS toks FROM ext),
       |gw AS (SELECT DISTINCT word FROM (SELECT unnest(toks) AS word FROM xt)
       |       WHERE len(word) > 0),
       |g0 AS (SELECT word, length(word) AS len, 1 AS pos,
       |              CAST([] AS VARCHAR[]) AS out, FALSE AS done FROM gw),
       |${(1 to unroll).map { k =>
           s"""bb$k AS (SELECT g.word, max(u.l) AS bl
              |  FROM g${k - 1} g, unnest(range(1, $lmax + 1)) AS u(l), vocab v
              |  WHERE NOT g.done AND g.pos + u.l - 1 <= g.len
              |    AND v.piece = CASE WHEN g.pos = 1
              |      THEN substring(g.word, g.pos, CAST(u.l AS INT))
              |      ELSE '##' || substring(g.word, g.pos, CAST(u.l AS INT)) END
              |  GROUP BY g.word),
              |g$k AS MATERIALIZED (
              |  SELECT g.word, g.len,
              |    CASE WHEN g.done THEN g.pos
              |         ELSE coalesce(g.pos + b.bl, g.len + 1) END AS pos,
              |    CASE WHEN g.done THEN g.out
              |         WHEN b.bl IS NULL THEN ['[UNK]']
              |         ELSE list_append(g.out, CASE WHEN g.pos = 1
              |           THEN substring(g.word, g.pos, CAST(b.bl AS INT))
              |           ELSE '##' || substring(g.word, g.pos, CAST(b.bl AS INT)) END)
              |    END AS out,
              |    CASE WHEN g.done OR b.bl IS NULL
              |           OR g.pos + b.bl > g.len THEN TRUE ELSE FALSE END AS done
              |  FROM g${k - 1} g LEFT JOIN bb$k b USING (word))""".stripMargin
         }.mkString(",\n")},
       |pos AS (SELECT doc_id, i AS pos, toks[i] AS word
       |        FROM xt, unnest(range(1, len(toks) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, g$unroll.out
       |         FROM pos p JOIN g$unroll ON g$unroll.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(out ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)""".stripMargin

  private[queries] def wpTokenizeOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpGreedyAggSqlPrefix(numMerges, unroll, lmax)}
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_pieces,
       |       CAST(len(list_filter(a.subs, x -> x = '[UNK]')) AS BIGINT) AS n_unk,
       |       md5(array_to_string(a.subs, ' ')) AS pieces_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** The vocab.txt id table + per-document id lists (`wids(doc_id,
    * tids)`): specials 0–4, alphabet sorted from 5, merge outputs in
    * first-rank order (duplicate outputs keep their first id), a
    * `[CLS] … [SEP]` frame per document. */
  private[queries] def wpIdsCtes(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpGreedyAggSqlPrefix(numMerges, unroll, lmax)},
       |vid AS MATERIALIZED (
       |  SELECT piece, CAST(4 + row_number() OVER (ORDER BY grp, ord, piece) AS INT) AS id
       |  FROM (SELECT 0 AS grp, 0 AS ord, piece FROM valph
       |        UNION ALL
       |        SELECT 1 AS grp, min(rnd) AS ord, m AS piece FROM sel
       |        WHERE m NOT IN (SELECT piece FROM valph) GROUP BY m)),
       |vmap AS (SELECT map(list(piece), list(id)) AS m FROM
       |  (SELECT piece, id FROM vid UNION ALL
       |   SELECT * FROM (VALUES ('[PAD]', 0), ('[UNK]', 1), ('[CLS]', 2),
       |                         ('[SEP]', 3), ('[MASK]', 4)) AS sp(piece, id))),
       |wids AS (SELECT a.doc_id,
       |    list_append(list_prepend(2, list_transform(a.subs,
       |      s -> map_extract(v.m, s)[1])), 3) AS tids
       |  FROM agg a, vmap v)""".stripMargin

  private[queries] def wpIdsOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpIdsCtes(numMerges, unroll, lmax)}
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(i.tids, x -> x = 1)) AS BIGINT) AS n_unk,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN wids i USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** WordPiece decode oracle: control ids (0,2,3,4 — not [UNK]) drop,
    * ids map back through the reverse vocab, `##` pieces glue to the
    * previous word, everything else opens a space-separated word. The
    * `lossless` flag compares against the normalized source text, so
    * the round-trip itself sits under the hash gate ([UNK] rows are
    * honestly false). */
  private[queries] def wpDetokenizeOracleSql(numMerges: Int, unroll: Int, lmax: Int): String =
    s"""${wpIdsCtes(numMerges, unroll, lmax)},
       |rmap AS (SELECT map(list(id), list(piece)) AS m FROM
       |  (SELECT piece, id FROM vid UNION ALL VALUES ('[UNK]', 1))),
       |dp AS (SELECT i.doc_id,
       |    list_transform(list_filter(i.tids, x -> NOT list_contains([0, 2, 3, 4], x)),
       |                   x -> map_extract(r.m, x)[1]) AS ps
       |  FROM wids i, rmap r),
       |rt AS (SELECT doc_id,
       |    list_reduce(ps, (acc, x) -> acc ||
       |      CASE WHEN x LIKE '##%' THEN x[3:] ELSE ' ' || x END) AS text_rt,
       |    len(list_filter(ps, x -> x = '[UNK]')) AS nu
       |  FROM dp)
       |SELECT e.doc_id, r.text_rt, CAST(r.nu AS BIGINT) AS n_unk,
       |       r.text_rt = $NormSql AS lossless
       |FROM ext e JOIN rt r USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** External-vocab WordPiece oracle: the fixture `vocab.txt` inlined
    * as (piece, id) VALUES (line order = id, the file's own layout —
    * [UNK]/[CLS]/[SEP] at 11–13, NOT this engine's training
    * constants), bracketed control entries excluded from the greedy
    * match set, ids through the file's own map. `lmax` derives from
    * the fixture's longest matchable content. */
  private[queries] def wpExtVocabOracleSql(unroll: Int): String = {
    val vocab = graft.text.WordPiece.externalFixtureVocab()
    require(vocab.forall { case (p, _) => !p.contains("'") },
      "fixture pieces must be quote-free to inline as SQL literals")
    val values = vocab.map { case (p, i) => s"('$p',$i)" }.mkString(",")
    val lmax = vocab.map { case (p, _) =>
      val content = if (p.startsWith("##")) p.substring(2) else p
      content.codePointCount(0, content.length)
    }.max
    s"""WITH ext AS ($extDocsSqlCte),
       |vraw AS MATERIALIZED (SELECT * FROM (VALUES $values) AS v(piece, id)),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM vraw
       |  WHERE NOT (piece LIKE '[%' AND piece LIKE '%]')),
       |${wpGreedyTailSql(unroll, lmax)},
       |vmap AS (SELECT map(list(piece), list(id)) AS m FROM vraw),
       |sp AS (SELECT
       |    (SELECT id FROM vraw WHERE piece = '[UNK]') AS unk,
       |    (SELECT id FROM vraw WHERE piece = '[CLS]') AS cls,
       |    (SELECT id FROM vraw WHERE piece = '[SEP]') AS sep),
       |wids AS (SELECT a.doc_id,
       |    list_append(list_prepend(sp.cls, list_transform(a.subs,
       |      s -> map_extract(v.m, s)[1])), sp.sep) AS tids
       |  FROM agg a, vmap v, sp)
       |SELECT e.doc_id, CAST(len(i.tids) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(i.tids, x -> x = sp.unk)) AS BIGINT) AS n_unk,
       |       md5(array_to_string(i.tids, ',')) AS ids_md5
       |FROM ext e JOIN wids i USING (doc_id), sp
       |ORDER BY e.doc_id""".stripMargin
  }

  /** UTF-8 encoding of code point `cp` as an INT list, stated as SQL
    * arithmetic (surrogates cannot occur in valid strings; the 4-byte
    * plane covers the rest) — shared by every oracle that re-derives
    * bytes from text in DuckDB. */
  private[queries] val Utf8OfCpSql =
    """CASE WHEN cp < 128 THEN [cp]
      |     WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
      |     WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
      |     ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64] END""".stripMargin

  private[queries] def byteLevelW0Sql: String = byteLevelW0Sql(carryWord = false)

  private[queries] def byteLevelW0Sql(carryWord: Boolean): String =
    byteLevelW0Sql(carryWord, extDocsSqlCte)

  private[queries] def byteLevelW0Sql(carryWord: Boolean, extSql: String): String = {
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    val wordSel = if (carryWord) "tok AS word, " else ""
    // UTF-8 encoding of code point cp as an INT list (surrogates cannot
    // occur in valid strings; 4-byte plane covers the rest)
    val utf8 = Utf8OfCpSql
    s"""ext AS ($extSql),
       |bmap AS MATERIALIZED (SELECT map(list(b ORDER BY b), list(s ORDER BY b)) AS m
       |        FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |ptoks AS (SELECT tok, count(*) AS cnt
       |          FROM (SELECT unnest(regexp_extract_all(text, '$pat')) AS tok FROM ext)
       |          WHERE len(tok) > 0 GROUP BY tok),
       |cps AS (SELECT tok, cnt, u.i AS i,
       |          unicode(substring(tok, CAST(u.i AS INT), 1)) AS cp
       |        FROM ptoks, unnest(range(1, length(tok) + 1)) AS u(i)),
       |csyms AS (SELECT c.tok, c.cnt, c.i,
       |            list_transform($utf8, b -> map_extract(bm.m, b)[1]) AS cs
       |          FROM cps c, bmap bm),
       |w0 AS MATERIALIZED (SELECT ${wordSel}flatten(list(cs ORDER BY i)) AS syms, max(cnt) AS cnt
       |       FROM csyms GROUP BY tok)""".stripMargin
  }

  /** Byte-level batched-training oracle: the shared byte-level w0, then
    * the SAME unrolled training rounds as the char-level batch oracle
    * ([[bpeBatchRoundSql]] — the machinery is symbolization-agnostic). */
  private[queries] def bpeByteLevelOracleSql(rounds: Int, batchSize: Int, candCap: Int): String =
    s"""WITH $byteLevelW0Sql,
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "")).mkString(",\n")},
       |sel AS (${(1 to rounds).map(r =>
           s"SELECT $r AS rnd, sel_rank, a, b, n FROM s$r")
           .mkString(" UNION ALL ")})
       |SELECT CAST(row_number() OVER (ORDER BY rnd, sel_rank) AS INTEGER) AS merge_rank,
       |       a AS lhs, b AS rhs, CAST(n AS BIGINT) AS pair_count
       |FROM sel ORDER BY merge_rank""".stripMargin

  /** Byte-level TOKENIZE oracle: the word-carrying byte-level w0, the
    * same unrolled training rounds, then every document re-assembled by
    * joining its positional PRETOKENS to the final symbol table — the
    * full byte-level train→apply path byte-checked (the byte-level twin
    * of [[bpeBatchTokenizeOracleSql]]). */
  private[queries] def bpeByteLevelTokenizeOracleSql(rounds: Int, batchSize: Int, candCap: Int): String = {
    val pat = graft.text.ByteLevel.PretokenPattern.replace("'", "''")
    s"""WITH ${byteLevelW0Sql(carryWord = true)},
       |${(1 to rounds).map(bpeBatchRoundSql(_, batchSize, candCap, "word")).mkString(",\n")},
       |pos AS (SELECT doc_id, u.i AS pos, ptk[u.i] AS word
       |        FROM (SELECT doc_id, regexp_extract_all(text, '$pat') AS ptk FROM ext),
       |             unnest(range(1, len(ptk) + 1)) AS u(i)),
       |dtok AS (SELECT p.doc_id, p.pos, w$rounds.syms
       |         FROM pos p JOIN w$rounds ON w$rounds.word = p.word),
       |agg AS (SELECT doc_id, flatten(list(syms ORDER BY pos)) AS subs
       |        FROM dtok GROUP BY 1)
       |SELECT e.doc_id, CAST(len(a.subs) AS BIGINT) AS n_subwords,
       |       md5(array_to_string(a.subs, ' ')) AS subword_md5
       |FROM ext e JOIN agg a USING (doc_id) ORDER BY e.doc_id""".stripMargin
  }

  /** Tokenize→pack→emit oracle: the gpt2 ids prefix (ranks, byte-level
    * w0, unrolled priority layers, vocab map), then the seq_pack
    * greedy recurrence replayed per part over the REAL token counts,
    * then each bin's id lists flattened in doc order. The recursive
    * pack CTE coexists with the materialized tokenizer chain here —
    * verified empirically at all three SFs (the r9 recursive-CTE
    * mis-evaluation shape involved aggregation directly over the
    * recursive result under the batched-pick chain; this shape joins
    * the recursion against MATERIALIZED derived tables, which is also
    * load-bearing for cost: without materializing `d`, every one of
    * the ~625 per-part recursion steps re-evaluates the entire
    * 24-layer tokenizer chain — >10 min at sf0.1 vs ~2 s). */
  private[queries] def seqPackIdsOracleSql(maxIters: Int, budget: Long, nParts: Int): String = {
    val vocab = graft.text.ByteLevel.vocabForMerges(
      graft.text.ByteLevel.externalFixtureMerges())
    val values = vocab.map { case (s, i) =>
      s"('${s.replace("'", "''")}',$i)"
    }.mkString(",")
    val partExpr =
      s"""CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR))[i]) AS BIGINT) - 1)
         |               * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % $nParts AS INTEGER)""".stripMargin
    s"""${gpt2SubwordsSqlPrefix(maxIters).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |vmap AS (SELECT map(list(sym ORDER BY id), list(id ORDER BY id)) AS m
       |         FROM (VALUES $values) AS v(sym, id)),
       |tid AS MATERIALIZED (SELECT a.doc_id,
       |          list_transform(a.subs, s -> map_extract(v.m, s)[1]) AS tids
       |        FROM agg a, vmap v),
       |base AS MATERIALIZED (SELECT doc_id, tids, CAST(len(tids) AS BIGINT) AS n_tokens,
       |                $partExpr AS part
       |         FROM tid),
       |d AS MATERIALIZED (SELECT doc_id, part, n_tokens,
       |             CAST(row_number() OVER (PARTITION BY part ORDER BY doc_id) AS INTEGER) AS rn
       |      FROM base),
       |pack(part, rn, doc_id, bin_idx, fill) AS (
       |  SELECT part, rn, doc_id, CAST(0 AS BIGINT) AS bin_idx, n_tokens AS fill FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.part, d.rn, d.doc_id,
       |         CASE WHEN p.fill + d.n_tokens <= $budget THEN p.bin_idx ELSE p.bin_idx + 1 END,
       |         CASE WHEN p.fill + d.n_tokens <= $budget THEN p.fill + d.n_tokens ELSE d.n_tokens END
       |  FROM pack p JOIN d ON d.part = p.part AND d.rn = p.rn + 1)
       |SELECT p.part, p.bin_idx, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
       |       md5(array_to_string(flatten(list(b.tids ORDER BY b.doc_id)), ',')) AS ids_md5
       |FROM pack p JOIN base b USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Byte-level coverage oracle: distinct non-whitespace characters of
    * the extended corpus; byte-level coverage computed per char (every
    * UTF-8 byte finds a row in the byte map), char-level coverage via
    * the normalized token alphabet. */
  private[queries] def byteLevelCoverageOracleSql: String = {
    val utf8 = Utf8OfCpSql
    s"""WITH ext AS ($extDocsSqlCte),
       |bmap AS MATERIALIZED (SELECT map(list(b ORDER BY b), list(s ORDER BY b)) AS m
       |        FROM (VALUES ${graft.text.ByteLevel.byteMapValuesSql}) AS t(b, s)),
       |chars AS (SELECT DISTINCT ch
       |          FROM (SELECT unnest(string_split(text, '')) AS ch FROM ext)
       |          WHERE len(ch) > 0 AND NOT regexp_matches(ch, '^\\s$$')),
       |cl AS (SELECT DISTINCT ch FROM (
       |         SELECT unnest(string_split(w, '')) AS ch
       |         FROM (SELECT unnest($ToksSql) AS w FROM ext)
       |         WHERE len(w) > 0)),
       |cov AS (SELECT c.ch,
       |          CASE WHEN len(list_filter(bl, b -> len(map_extract(bm.m, b)) > 0)) = len(bl)
       |               THEN 1 ELSE 0 END AS in_b
       |        FROM (SELECT ch, $utf8 AS bl
       |              FROM (SELECT ch, unicode(ch) AS cp FROM chars)) c, bmap bm)
       |SELECT CAST(count(*) AS BIGINT) AS n_chars,
       |       CAST(sum(in_b) AS BIGINT) AS n_covered_bytelevel,
       |       CAST(sum(CASE WHEN cl.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered_charlevel,
       |       sum(in_b) * 100.0 / count(*) AS bytelevel_pct
       |FROM cov LEFT JOIN cl USING (ch)""".stripMargin
  }
}
