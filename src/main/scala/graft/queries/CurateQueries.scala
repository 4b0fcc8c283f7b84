package graft
package queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** LLM-data curation: exact and near-dup removal, decontamination,
  * takedown, fuzzy resolution and packing. Each query is declared
  * next to its DuckDB oracle. */
object CurateQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // Temperature-flattened mixture (α = 1/2 exponent sampling, the
    // XLM-R-style rebalance): per-source keep thresholds ∝ √n_s under a
    // 300-doc budget — all integer arithmetic (⌊√n⌋ is exact) the
    // oracle rederives from the same histogram; row fate is the usual
    // md5 deviate. Narrow literal-threshold filter, no shuffle.
    QuerySpec("corpus_temp_mixture", (s, dir) => {
      graft.ops.Sampling.temperatureMixture(docs(s, dir), "source",
          budget = 300L, salt = "tm2")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, () =>
      // Rederives the √n thresholds from the same histogram with the same
      // integer floor chain, then replays the md5 deviate filter.
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |r AS (SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS t FROM c),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS tr FROM r),
        |th AS (SELECT source, n, least(10000, ((300 * t) // tr) * 10000 // n) AS thresh FROM r, tot),
        |h AS (SELECT d.doc_id, d.source, th.thresh,
        |        list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'tm2')[i]) AS BIGINT) - 1)
        |                  * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
        |      FROM documents d JOIN th USING (source))
        |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin),

    // Corpus-wide top-40 vocabulary (count desc, token tiebreak) — the
    // tokenizer/stopword-building rollup: map-side partial counts into
    // a bounded global top-k (TakeOrderedAndProject), never a full sort.
    QuerySpec("corpus_vocab", (s, dir) => {
      TextAnalysis.topTokens(docs(s, dir), k = 40)
    }, () =>
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t)
         |SELECT token, CAST(count(*) AS BIGINT) AS n FROM occ
         |GROUP BY 1 ORDER BY n DESC, token LIMIT 40""".stripMargin),

    // Zipf profile: frequency-of-frequency over the vocabulary — both
    // aggregations are massive reductions (wordcount partial-aggregates
    // the hot head map-side; the second groupBy sees |vocab| rows).
    QuerySpec("corpus_token_spectrum", (s, dir) => {
      TextAnalysis.tokenFrequencySpectrum(docs(s, dir))
    }, () =>
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |occ AS (SELECT unnest(toks) AS token FROM t),
         |v AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences FROM occ GROUP BY 1)
         |SELECT occurrences, CAST(count(*) AS BIGINT) AS n_tokens
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),

    // TextRank keywords (Mihalcea & Tarau '04): integer-micro PageRank
    // over the bounded window-co-occurrence graph — 5 damped rounds of
    // exact floor-division contributions, so the iterative ranking
    // replays bit-identically. Corpus work = the one co-occurrence
    // aggregation; the walk runs on the vocab-bounded edge set.
    QuerySpec("corpus_textrank", (s, dir) => {
      TextAnalysis.textRank(docs(s, dir), window = 3, minCount = 5L,
        iters = 5, topK = 20)
    }, () =>
      // PMI: identical double ops in identical order (pair prob over the
      // product of unigram probs), micro-quantized ln — ranking and
      // hashing happen on the integer, the tf-idf/BM25 convention.
      // Replays the co-occurrence graph build (canonical unordered
      // pairs, min-count cut) and 5 UNROLLED integer PageRank rounds —
      // the same (r*850000) // (deg*1000000) floor contributions.
      {
      val rounds = (1 to 5).map { r =>
        s"""r$r AS MATERIALIZED (
           |  SELECT adj.v AS node, CAST(150000 + sum((p.r * 850000) // (d.deg * 1000000)) AS BIGINT) AS r
           |  FROM adj JOIN r${r - 1} p ON p.node = adj.u JOIN deg d ON d.u = adj.u
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |pr AS (SELECT toks[i] AS a, toks[i+d] AS b
         |       FROM t, unnest(range(1, len(toks)+1)) AS u(i),
         |              unnest(range(1, 4)) AS v(d)
         |       WHERE i + d <= len(toks) AND toks[i] <> toks[i+d]),
         |e AS MATERIALIZED (
         |  SELECT a, b FROM (
         |    SELECT CASE WHEN a < b THEN a ELSE b END AS a,
         |           CASE WHEN a < b THEN b ELSE a END AS b
         |    FROM pr)
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
         |r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
         |$rounds
         |SELECT node AS token, r AS rank_micro
         |FROM r5 ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
    }),

    // BPE merge training: one corpus pass builds the distinct-word
    // table; each round is vocab-bounded (pair explode + weighted
    // count + 1-row argmax) with the greedy merge applied as a narrow
    // fold — the Sennrich/fastBPE word-count trick as Spark plans.
    QuerySpec("corpus_bpe_merges", (s, dir) => {
      graft.text.Bpe.learnMerges(docs(s, dir), numMerges = 6)
    }, () =>
      // BPE: the oracle replays the identical rounds — weighted pair
      // counts over the distinct-word table, (n desc, a, b) argmax, and
      // the SAME greedy left-fold application via list_reduce (string
      // replace would mis-merge self-pair runs like 'a a a a').
      BpeOracleSql),

    // Batched BPE training at a REALISTIC rule count: 8 rounds × up to
    // 16 pairwise-disjoint merges (fastBPE-style amortization, ~90
    // rules on the fixtures) — the per-merge driver-round cost of the
    // sequential form amortized ~11×, the shape that reaches a
    // 32k-rule production vocabulary in ~64 rounds at batch 512
    // instead of 32k sequential jobs. The oracle replays the greedy
    // independent-set selection (recursive CTE) and the combined
    // fold verbatim.
    // Training reads through the PERSISTED merge artifact (fingerprint
    // sidecar — the tokenizer file, built once per corpus+params and
    // shared with the tokenize query below): repeat invocations pay an
    // artifact read, not a retrain.
    QuerySpec("corpus_bpe_merges_batch", (s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, docs(s, dir), artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.mergesFromArtifact(s, artDir)
    }, () => bpeBatchOracleSql(rounds = 8, batchSize = 16, candCap = 256)),

    // The trained VOCABULARY (GPT-2's vocab.json next to merges.txt):
    // subword symbols with weighted occurrence counts after all ~90
    // rules — rules via the shared artifact; one corpus pass + 8
    // vocab-bounded folds regardless of rule count. The oracle replays
    // the full batched construction and aggregates the final symbols.
    QuerySpec("corpus_bpe_vocab", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      graft.text.Bpe.vocabAfterRounds(d,
        graft.text.Bpe.loadMergeRounds(s, artDir), topK = 50)
    }, () => bpeBatchVocabOracleSql(rounds = 8, batchSize = 16, candCap = 256, topK = 50)),

    // UNIGRAM-LM tokenizer training (Kudo ACL'18 — the SentencePiece
    // family, the OTHER production tokenizer besides BPE): seed vocab
    // from weighted substring counts, then deterministic Viterbi-EM
    // rounds — costs are QUANTIZED INTEGERS (-floor(1e6*ln p)), so the
    // whole DP is exact arithmetic and the oracle replays it as a
    // list_reduce lattice walk with the identical (cost, j) tie-break.
    // Work shape: one corpus-sized word count; every round is
    // vocab-bounded (kernel per DISTINCT word, costs as a broadcast
    // hash map).
    // Training reads through the PERSISTED vocab artifact (fingerprint
    // sidecar — the SentencePiece-style model file, built once per
    // corpus+params and shared with the tokenize query below): repeat
    // invocations pay an artifact read, not a retrain.
    QuerySpec("corpus_unigram_vocab", (s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, docs(s, dir), artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      graft.text.Unigram.vocabFromArtifact(s, artDir)
    }, () => unigramVocabOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // WORDPIECE training (the BERT family — Schuster & Nakajima 2012,
    // Wu et al. 2016; the THIRD production tokenizer family next to
    // BPE and unigram): iterative best-pair merges over the
    // distinct-word table, scored by LIKELIHOOD GAIN
    // n(a,b)/(n(a)·n(b)) rather than raw frequency, `##` continuation
    // markers. One merge per round (the published trainer's shape —
    // the score changes after every merge). Reads through the
    // persisted merge artifact; the oracle replays every round's
    // pair/single counts and the float64 argmax exactly.
    QuerySpec("corpus_wordpiece_merges", (s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, docs(s, dir), artDir,
        numMerges = 8)
      graft.text.WordPiece.mergesFromArtifact(s, artDir)
    }, () => wpMergesOracleSql(numMerges = 8)),

    // BYTE-LEVEL BPE training (the GPT-2 construction): raw-text
    // pretokens → UTF-8 bytes → the published bytes_to_unicode
    // alphabet → the shared batched trainer. Runs on the corpus
    // EXTENDED with punctuation/non-ASCII/emoji fixture rows — text
    // the char-level path cannot even represent. The oracle rebuilds
    // the byte symbolization from code-point arithmetic (UTF-8
    // encoding stated in SQL) + the inlined 256-row byte map, then
    // replays the identical training rounds.
    QuerySpec("corpus_bpe_bytelevel", (s, dir) =>
      graft.text.ByteLevel.learnMergesBatched(extDocs(s, dir),
        rounds = 4, batchSize = 8, candCap = 128), () => bpeByteLevelOracleSql(rounds = 4, batchSize = 8, candCap = 128)),

    // Tokenizer FERTILITY report — the per-language efficiency metric
    // a tokenizer owner tracks before committing a vocab (subwords per
    // whitespace word = fertility; normalized chars per subword =
    // compression): the GPT-2-path token ids and the lang-ID kernel
    // fuse in one corpus pass, then a lang-keyed integer aggregate.
    // Ratios are micro-quantized BIGINT floor divisions (both engines
    // positive-truncate identically), so the report is hash-exact.
    // At 100 TB: one tokenize pass + a ≤6-group aggregate.
    QuerySpec("corpus_fertility", (s, dir) => {
      val norm = graft.text.TextAnalysis.normalizeText(col("text"))
      // tokenIds reduces to (doc_id, token_ids); the text-derived
      // metrics ride a second narrow scan joined back by doc_id — one
      // doc-keyed equi-join, both sides pre-reduced to counts
      val sub = graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_sub"))
      extDocs(s, dir)
        .select(col("doc_id"),
          graft.text.TextAnalysis.languageId(col("text")).as("lang"),
          length(norm).cast("long").as("n_chars"),
          size(graft.text.TextAnalysis.tokens(col("text"))).cast("long").as("n_words"))
        .join(sub, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("sum_words"),
          sum(col("n_sub")).as("sum_subwords"),
          sum(col("n_chars")).as("sum_chars"))
        .select(col("lang"), col("n_docs"), col("sum_words"), col("sum_subwords"),
          expr("CAST((sum_subwords * 1000000) DIV greatest(sum_words, 1) AS BIGINT)")
            .as("fertility_micro"),
          expr("CAST((sum_chars * 1000000) DIV greatest(sum_subwords, 1) AS BIGINT)")
            .as("cps_micro"))
        .orderBy(col("lang"))
    }, () =>
      // Fertility report: the gpt2 id machinery + the lang-id CASE twin
      // (sql_lang_quality's device), grouped per language with
      // micro-quantized floor-division ratios.
      s"""${gpt2IdsCtes(36)},
         |f AS (SELECT e.doc_id, $NormSql AS norm,
         |             CAST(len(i.tids) AS BIGINT) AS n_sub
         |      FROM ext e JOIN ids i USING (doc_id)),
         |g AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks, n_sub FROM f),
         |sc AS (SELECT doc_id, n_sub,
         |  CAST(length(norm) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM g),
         |l AS (SELECT doc_id, n_chars, n_words, n_sub,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang
         |  FROM sc)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS sum_words,
         |       CAST(sum(n_sub) AS BIGINT) AS sum_subwords,
         |       CAST((sum(n_sub) * 1000000) // greatest(sum(n_words), 1) AS BIGINT) AS fertility_micro,
         |       CAST((sum(n_chars) * 1000000) // greatest(sum(n_sub), 1) AS BIGINT) AS cps_micro
         |FROM l GROUP BY 1 ORDER BY lang""".stripMargin),

    // The trainer feed end-to-end: GPT-2-path token ids packed into
    // fixed-budget context windows and materialized as packed ID
    // SEQUENCES per (part, bin) — tokenize → pack → emit, the last
    // mile of the pretraining data pipeline. Packing rides the shared
    // greedy part-local recurrence (seq_pack); the oracle chains the
    // gpt2 ids prefix into the same recursive replay and the ordered
    // flatten.
    QuerySpec("seq_pack_ids", (s, dir) => {
      val ids = graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), col("token_ids"),
          size(col("token_ids")).cast("long").as("n_tokens"))
      val packed = graft.ops.Packing.packGreedy(
        ids.select("doc_id", "n_tokens"), budget = 512L, nParts = 8)
      packed.join(ids, "doc_id")
        .groupBy(col("part"), col("bin_idx"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          md5(concat_ws(",", flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("token_ids")))),
            x => x.getField("token_ids"))))).as("ids_md5"))
        .orderBy(col("part"), col("bin_idx"))
    }, () => seqPackIdsOracleSql(maxIters = 36, budget = 512L, nParts = 8)),

    // SFT loss masking end-to-end (completion-only loss, the
    // InstructGPT-family convention): deterministic role-alternating
    // turns, each turn tokenized SEPARATELY through the ranked
    // byte-level kernel, framed by added-token role markers,
    // EOS-terminated, with the mask = 1 exactly on assistant-content
    // ids. The oracle rebuilds the turn table in SQL, replays the
    // gpt2 id machinery over it, and re-frames with the same special
    // ids (HF added-token convention: after the merge block).
    QuerySpec("seq_sft_mask", (s, dir) => {
      graft.text.Sft.maskedTokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("loss_mask"), x => x === 1)).cast("long").as("n_loss"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"),
          md5(concat_ws(",", col("loss_mask"))).as("mask_md5"))
        .orderBy(col("doc_id"))
    }, () => sftMaskOracleSql(maxIters = 36, turnLen = 8, keyStride = 1000000L)),

    // Eval decontamination: corpus docs sharing ≥2 distinct 5-gram
    // shingles with a benchmark set (here: every 100th doc, re-keyed) —
    // the pre-training contamination sweep. Bucketed shared-shingle
    // join; the hot-shingle cap is computed on the corpus side.
    QuerySpec("decontaminate", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlap(d, bench, n = 5, minShared = 2L, maxShingleDf = 500L)
        .orderBy(col("doc_id"), col("bench_id"))
    }, () =>
      // The same distinct-5-gram construction on both sides; the corpus-
      // side df cap and the ≥2 shared-shingle floor mirror the operator.
      DecontaminateOracle),

    // Bloom-prefiltered decontamination: same answer as `decontaminate`
    // (and the same oracle SQL — the hashes must agree), different
    // 100 TB shape: the bench shingle set broadcasts as BITS and kills
    // almost every corpus shingle map-side before any shuffle; the
    // exact bench join removes bloom false positives, and the
    // hot-shingle cap still sees exact corpus-wide counts because
    // bloom membership is a pure function of the shingle value.
    QuerySpec("decontaminate_bloom", (s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + lit(9000000L)).as("bench_id"), col("text"))
      Dedup.crossCorpusOverlapBloom(d, bench, n = 5, minShared = 2L,
          maxShingleDf = 500L, fpp = 0.01)
        .orderBy(col("doc_id"), col("bench_id"))
    }, () =>
      // IDENTICAL text to the `decontaminate` oracle: the bloom form must
      // reproduce the exact answer — false positives die in the bench
      // join, false negatives cannot exist, the df cap sees true counts.
      DecontaminateOracle),

    // DSIR-style importance selection (Xie et al.): keep the 100 corpus
    // docs a target-domain bigram LM prefers most over the corpus's own
    // LM. The target model (the small curated side) broadcasts; both
    // likelihoods sum over the same gram multiset so the weight is the
    // exact quantized log-ratio; the cut is a TakeOrdered.
    QuerySpec("corpus_dsir_select", (s, dir) => {
      val d = docs(s, dir)
      val target = d.filter(col("doc_id") % 100 === 0)
      TextAnalysis.dsirSelect(d, target, topM = 100)
        .orderBy(col("doc_id"))
    }, () =>
      // Replays both bigram LMs (raw = whole corpus, target = the %100
      // subset), LEFT-joined so OOV grams take the add-one floor, then
      // the top-100 by exact quantized log-ratio with id tie-break.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |g AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
         |      FROM t, unnest(range(1, len(toks))) AS u(i)),
         |occ AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1, 2),
         |runi AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |         FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |rv AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS v_size FROM runi),
         |rbi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM g GROUP BY 1),
         |tt AS (SELECT doc_id, toks FROM t WHERE doc_id % 100 = 0),
         |tuni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |         FROM (SELECT unnest(toks) AS w1 FROM tt) GROUP BY 1),
         |tv AS (SELECT greatest(CAST(count(*) AS BIGINT), 1) AS v_size FROM tuni),
         |tbi AS (SELECT toks[i] || ' ' || toks[i+1] AS gram, CAST(count(*) AS BIGINT) AS bc
         |        FROM tt, unnest(range(1, len(toks))) AS u(i) GROUP BY 1),
         |rsc AS (SELECT o.doc_id, o.cnt,
         |          CAST(floor(ln(CAST(coalesce(bc, 0) + 1 AS DOUBLE)
         |            / CAST(coalesce(uc, 0) + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |        FROM occ o LEFT JOIN rbi USING (gram)
         |        LEFT JOIN runi ON split_part(o.gram, ' ', 1) = runi.w1 CROSS JOIN rv),
         |ragg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |                CAST(sum(cnt * lp) AS BIGINT) AS raw_micro FROM rsc GROUP BY 1),
         |tsc AS (SELECT o.doc_id, o.cnt,
         |          CAST(floor(ln(CAST(coalesce(bc, 0) + 1 AS DOUBLE)
         |            / CAST(coalesce(uc, 0) + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |        FROM occ o LEFT JOIN tbi USING (gram)
         |        LEFT JOIN tuni ON split_part(o.gram, ' ', 1) = tuni.w1 CROSS JOIN tv),
         |tagg AS (SELECT doc_id, CAST(sum(cnt * lp) AS BIGINT) AS tgt_micro FROM tsc GROUP BY 1),
         |j AS (SELECT d.doc_id,
         |        coalesce(n_bigrams, 0) AS n_bigrams,
         |        coalesce(raw_micro, 0) AS raw_micro,
         |        coalesce(tgt_micro, 0) AS tgt_micro,
         |        coalesce(tgt_micro, 0) - coalesce(raw_micro, 0) AS weight
         |      FROM documents d LEFT JOIN ragg USING (doc_id) LEFT JOIN tagg USING (doc_id)),
         |cut AS (SELECT * FROM j ORDER BY weight DESC, doc_id ASC LIMIT 100)
         |SELECT doc_id, n_bigrams, raw_micro, tgt_micro, weight FROM cut
         |ORDER BY doc_id""".stripMargin),

    // Duplicate-cluster closure: connected components over the exact
    // n-gram Jaccard pair graph (min-label propagation with pointer
    // jumping — O(log d) bucketed join rounds, no driver row traffic).
    // Pairs only say A~B; keep-one-per-group curation needs the
    // transitive closure, keyed by the component's minimum doc id.
    QuerySpec("dedup_clusters", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs)
        .withColumn("cluster_size",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cluster_id"))))
        .orderBy(col("id"))
    }, () =>
      // Same pair CTEs as doc_ngram_jaccard, then the transitive closure
      // by recursive CTE: min reachable id per node = the component label
      // the distributed min-label propagation converges to.
      s"""WITH RECURSIVE t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
         |SELECT id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM comp ORDER BY id""".stripMargin),

    // Chunk-level exact dedup (boilerplate removal): a 25-token
    // boilerplate paragraph is planted on every fifth doc, and the
    // operator must keep exactly one corpus-wide occurrence of every
    // repeated chunk and reassemble the survivors in document order.
    // The md5 of the reassembled text pins the whole reconstruction.
    QuerySpec("dedup_chunks", (s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(lit(ChunkBoilerplate + " "), col("text")))
          .otherwise(col("text")))
      Dedup.chunkDedup(planted, chunkTokens = 25)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, () =>
      // Replays the chunking (25-token windows of the normalized token
      // list), first-occurrence selection (min doc_id*2^20+idx per chunk
      // string), and document reassembly — md5 of the rebuilt text pins
      // every surviving byte.
      s"""WITH base AS (SELECT doc_id,
         |                     CASE WHEN doc_id % 5 = 0
         |                          THEN '$ChunkBoilerplate ' || text
         |                          ELSE text END AS text
         |              FROM documents),
         |toks AS (SELECT doc_id, $ToksSql AS t FROM base),
         |chunks AS (SELECT doc_id, u.i AS chunk_idx,
         |                  array_to_string(t[(u.i*25+1):(u.i*25+25)], ' ') AS chunk,
         |                  doc_id*1048576 + u.i AS occ_key
         |           FROM toks, unnest(range((len(t)+24)//25)) AS u(i)),
         |marked AS (SELECT doc_id, chunk_idx, chunk,
         |                  occ_key = min(occ_key) OVER (PARTITION BY chunk) AS kept
         |           FROM chunks)
         |SELECT doc_id,
         |       count(*) AS n_chunks,
         |       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
         |       md5(coalesce(array_to_string(list(chunk ORDER BY chunk_idx) FILTER (WHERE kept), ' '), '')) AS clean_md5
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // MinHash-LSH near-dup pairs (banded bucket join, then the EXACT
    // Jaccard filter on candidates). The oracle brute-forces the same
    // threshold set with a shared-shingle join: every qualifying pair at
    // sf0.01 sits at jaccard ≥ 0.9, where the 12×2 banding's candidate
    // recall is 1−(1−j²)^12 ≈ 1−2e-9 — and the fixed hash functions make
    // the output deterministic, verified equal to brute force.
    QuerySpec("dedup_minhash", (s, dir) => {
      Dedup.minHashNearDups(docs(s, dir), maxJaccardDist = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Brute force over ALL pairs at the exact-Jaccard threshold; the
      // banded MinHash result equals it (see the query comment).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       1.0 - CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard_dist
         |FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |WHERE 1.0 - CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) <= 0.6
         |ORDER BY id_a, id_b""".stripMargin),

    // SimHash near-dup pairs (4×16-bit band join + hamming filter). The
    // md5 hash kind makes the 64-bit signature recomputable in SQL, and
    // the band join is pigeonhole-COMPLETE for hamming ≤ 3, so the
    // banded output provably equals the oracle's all-pairs brute force.
    QuerySpec("dedup_simhash", (s, dir) => {
      Dedup.simHashNearDups(docs(s, dir), maxHamming = 3, hashKind = "md5")
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Recomputes the md5-kind SimHash signature per document (u64 from
      // the first 16 hex chars of md5(token), ±1 vote per bit, sign pack)
      // and brute-forces hamming ≤ 3 over all pairs — the pigeonhole band
      // join returns exactly this set.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |hv AS (SELECT doc_id,
         |         [list_sum([(CAST(strpos('0123456789abcdef', md5(tk)[i]) AS HUGEINT) - 1) << (4*(16-i)) FOR i IN range(1,17)])
         |          FOR tk IN toks] AS hs
         |       FROM t),
         |sg AS (SELECT doc_id,
         |         list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0
         |                   THEN (CAST(1 AS HUGEINT) << b) ELSE CAST(0 AS HUGEINT) END FOR b IN range(64)]) AS s
         |       FROM hv),
         |sig AS (SELECT doc_id,
         |          CAST(CASE WHEN s < 9223372036854775808 THEN s ELSE s - 18446744073709551616 END AS BIGINT) AS sig
         |        FROM sg)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // Semantic decontamination: a synthetic "benchmark" of 15 copied
    // corpus vectors (vec_id<15 at +3000000) must be traced back to its
    // training-set origins by the cross-corpus SRP band join — exact
    // copies collide in every band, and the fixture has no natural
    // cross pair at cos ≥ 0.95 (same corpus as emb_near_dups).
    QuerySpec("decontaminate_semantic", (s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val benchmark = e.filter(col("vec_id") < 15)
        .withColumn("vec_id", col("vec_id") + lit(3000000L))
      Dedup.crossEmbeddingNearDups(e, benchmark, minCosine = 0.95)
        .orderBy(col("corpus_id"), col("probe_id"))
    }, () =>
      // Brute-force cross join at the threshold: equals the banded search
      // because exact copies collide in every band and nothing else in
      // the fixture reaches 0.95 across the two sides.
      s"""WITH p AS (SELECT vec_id + 3000000 AS probe_id, embedding FROM embeddings WHERE vec_id < 15)
         |SELECT c.vec_id AS corpus_id, p.probe_id,
         |       (${dotSql("c.embedding", "p.embedding")})
         |         / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) AS cos_sim
         |FROM embeddings c CROSS JOIN p
         |WHERE (${dotSql("c.embedding", "p.embedding")})
         |        / (sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("p.embedding", "p.embedding")})) >= 0.95
         |ORDER BY corpus_id, probe_id""".stripMargin),

    // Winnowing partial-overlap pairs. The Karp-Rabin k-gram hashes are
    // Σ c_j·B^(k−1−j) mod 2^64 over UTF-16 units (ASCII fixture ⇒ code
    // points), and the fingerprint SET only needs window minima BY VALUE
    // (the rightmost-tie rule picks an index, not a value), so the whole
    // operator is recomputable in SQL with HUGEINT modular arithmetic.
    QuerySpec("dedup_winnow", (s, dir) => {
      Dedup.winnowOverlapPairs(docs(s, dir), minShared = 3, maxFingerprintDf = 20L)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      // Recomputes the winnowing fingerprint sets (Karp-Rabin k=8 hashes
      // as Σ c_j·B^(7−j) mod 2^64 via HUGEINT, signed back to Java-long
      // order, w=4 window minima by value, distinct) and the full
      // shared-fingerprint pair pipeline including the df ≤ 20 hot-key cap.
      s"""WITH t AS (SELECT doc_id, string_split_regex(text, '') AS c, length(text) AS n FROM documents),
         |h AS (SELECT doc_id, n,
         |    [CAST(CASE WHEN hv < 9223372036854775808 THEN hv ELSE hv - 18446744073709551616 END AS BIGINT)
         |     FOR hv IN [(${WinnowTermsSql}) % 18446744073709551616::HUGEINT FOR i IN range(1, n - 8 + 2)]] AS hashes
         |  FROM t WHERE n >= 8),
         |fp AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(hashes) <= 4 THEN [list_min(hashes)]
         |         ELSE [list_min(hashes[s:s+3]) FOR s IN range(1, len(hashes) - 4 + 2)] END)) AS fp
         |  FROM h),
         |rare AS (SELECT fp FROM fp GROUP BY 1 HAVING count(*) <= 20),
         |pr AS (SELECT fp.doc_id, fp.fp FROM fp JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM pr a JOIN pr b USING (fp) WHERE a.doc_id < b.doc_id
         |GROUP BY 1,2 HAVING count(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin),

    // CROSS-STORE TAKEDOWN AUDIT — the GDPR driver: ONE victim row set
    // scrubs every text index in a loop over stores (deleteDocs is one
    // implementation for all three families), and the audit asserts
    // the honest residual — the doc's posting-row count over each
    // store's PROBED view (base ∪ deltas − tombstones) — is exactly
    // zero, with had_rows proving the doc was indexed before the
    // takedown. The verdict is constant, so the oracle pins it. Cost
    // per store: one batch-sized tombstone write, never an index scan.
    QuerySpec("takedown_all_stores", (s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stores = Seq(
        ("bm25", s"graft_bm25del_$key", s"$tmp/graft_bm25del_$key"),
        ("positional", s"graft_posdel_$key", s"$tmp/graft_posdel_$key"),
        ("trigram", s"graft_tridel_$key", s"$tmp/graft_tridel_$key"))
      graft.text.InvertedIndex.ensure(s, corpus, stores(0)._2, stores(0)._3, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(s, corpus, stores(1)._2, stores(1)._3, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(s, corpus, stores(2)._2, stores(2)._3, buckets = 8)
      stores.foreach(st => graft.text.InvertedIndex.dropMutations(st._3)) // replay determinism
      val victim = corpus.filter(col("doc_id") === 6L)
      val before = stores.map(st =>
        graft.text.InvertedIndex.docResidual(s, st._2, st._3, 6L))
      stores.foreach(st =>
        graft.text.InvertedIndex.deleteDocs(s, st._3, victim, tag = "gdpr"))
      val after = stores.map(st =>
        graft.text.InvertedIndex.docResidual(s, st._2, st._3, 6L))
      stores.map(_._1).zip(before.zip(after)).map { case (name, (b, a)) =>
        (name, if (b > 0) 1L else 0L, a)
      }.toDF("store", "had_rows", "residual_rows").orderBy(col("store"))
    }, () =>
      // One takedown call must zero the victim's probed residual in every
      // store, and the doc must have been indexed beforehand.
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows, CAST(0 AS BIGINT) AS residual_rows
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |ORDER BY store""".stripMargin),

    // CRASH-RESUMABLE TAKEDOWN JOURNAL (r16 VERDICT task 3): the
    // cross-store takedown persists its INTENT (victim rows + target
    // store list) before the first per-store commit, marks each
    // store's completion, and replays incomplete journals
    // idempotently. The scripted lifecycle: three text stores, a
    // takedown that CRASHES after store 1 of 3 (injected), then
    // resumeAll completes the rest — the zero-residual audit now
    // covers the RESUMED path. Per store: had_rows before, whether it
    // was scrubbed before the crash, residual after resume, and the
    // journal-recovery verdict.
    QuerySpec("takedown_journal", (s, dir) => {
      import s.implicits._
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      // the shared per-sf text stores (content-hash ensure reuses the
      // build across invocations; the leading dropMutations reset is
      // the club's replay-determinism contract) — only the JOURNAL is
      // scratch-fresh per run
      val tmp = System.getProperty("java.io.tmpdir")
      val targets = Seq(
        graft.ops.Takedown.Target(
          "bm25", s"graft_bm25del_$key", s"$tmp/graft_bm25del_$key"),
        graft.ops.Takedown.Target(
          "positional", s"graft_posdel_$key", s"$tmp/graft_posdel_$key"),
        graft.ops.Takedown.Target(
          "trigram", s"graft_tridel_$key", s"$tmp/graft_tridel_$key"))
      graft.text.InvertedIndex.ensure(
        s, corpus, targets(0).table, targets(0).dir, buckets = 8)
      graft.text.InvertedIndex.ensurePositional(
        s, corpus, targets(1).table, targets(1).dir, buckets = 8)
      graft.text.InvertedIndex.ensureTrigram(
        s, corpus, targets(2).table, targets(2).dir, buckets = 8)
      targets.foreach(t =>
        graft.text.InvertedIndex.dropMutations(t.dir)) // replay determinism
      val scratch = freshScratchDir(dir, "tdjq")
      val victims = corpus.filter(col("doc_id") === 6L)
      val journal = s"$scratch/journal"
      def residual(t: graft.ops.Takedown.Target): Long =
        graft.text.InvertedIndex.docResidual(s, t.table, t.dir, 6L)
      val hadRows = targets.map(residual(_) > 0L)
      val crashed = try {
        graft.ops.Takedown.takedown(
          s, journal, "gdpr1", victims, targets, failAfterStores = 1)
        false
      } catch {
        case e: IllegalStateException if e.getMessage.contains("injected crash") =>
          true
      }
      val mid = targets.map(residual)
      val pendingSeen = graft.ops.Takedown.pending(journal) == Seq("gdpr1")
      val resumedOk =
        graft.ops.Takedown.resumeAll(s, journal) == Seq("gdpr1" -> 2)
      val after = targets.map(residual)
      val recovered = crashed && pendingSeen && resumedOk &&
        graft.ops.Takedown.readJournal(journal, "gdpr1").isComplete &&
        graft.ops.Takedown.pending(journal).isEmpty
      targets.zipWithIndex.map { case (t, i) =>
        (t.kind,
          if (hadRows(i)) 1L else 0L,
          if (mid(i) == 0L) 1L else 0L,
          after(i),
          if (recovered) 1L else 0L)
      }.toDF("store", "had_rows", "scrubbed_before_resume",
        "residual_after_resume", "journal_recovered")
        .orderBy(col("store"))
    }, () =>
      // The journaled takedown's verdict is fully determined by the
      // scripted crash point: bm25 (target 1) scrubbed before the
      // injected crash, positional/trigram only by the resume; zero
      // residual everywhere afterwards, journal recovered.
      """SELECT 'bm25' AS store, CAST(1 AS BIGINT) AS had_rows,
        |       CAST(1 AS BIGINT) AS scrubbed_before_resume,
        |       CAST(0 AS BIGINT) AS residual_after_resume,
        |       CAST(1 AS BIGINT) AS journal_recovered
        |UNION ALL SELECT 'positional', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |UNION ALL SELECT 'trigram', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |ORDER BY store""".stripMargin),

    // TAKEDOWN on the incremental exact-dedup HASH STORE: a scrubbed
    // document's content hash is derived data and must go too (the
    // GDPR leg of the dedup story — without it a re-crawl of deleted
    // content is wrongly suppressed as "already seen"). The two
    // lowest-id UNIQUE-content docs anchor the scenario: the first is
    // taken down (its (h, first_id) pair tombstoned — covered legs =
    // base + live deltas, one batch-sized write), then a later batch
    // re-crawls both contents — the deleted one must report NOVEL and
    // re-enter the store (its new delta leg is not covered), the live
    // one must dedupe against its original owner — and a second batch
    // must dedupe the re-crawled content against its NEW owner. The
    // oracle derives the same verdicts relationally from documents.
    QuerySpec("dedup_store_delete", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_hashdel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureHashStore(s, corpus, store)
      graft.dedup.Dedup.dropHashStoreMutations(store) // replay determinism
      // bounded: exactly two (id, text) rows come back
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.text.TextAnalysis.normalizeText(col("text")))
      val uniq = corpus
        .withColumn("_c", count(lit(1)).over(w))
        .filter(col("_c") === 1)
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id"), col("text")).collect()
      val (delId, delText) = (uniq(0).getLong(0), uniq(0).getString(1))
      val (keepId, keepText) = (uniq(1).getLong(0), uniq(1).getString(1))
      graft.dedup.Dedup.deleteFromHashStore(s, store,
        corpus.filter(col("doc_id") === delId), tag = "del")
      import s.implicits._
      val v1 = graft.dedup.Dedup.incrementalDedupBatch(s, store,
        Seq((9100000L + delId, delText), (9100000L + keepId, keepText))
          .toDF("doc_id", "text"),
        batchTag = Some("re"))
      val v2 = graft.dedup.Dedup.incrementalDedupBatch(s, store,
        Seq((9200000L + delId, delText)).toDF("doc_id", "text"),
        batchTag = Some("re2"))
      v1.unionAll(v2).orderBy(col("doc_id"))
    }, () =>
      // The takedown life cycle derived relationally: d1/d2 = the two
      // lowest-id unique-normalized-content docs; d1's re-crawl is novel
      // (its pair was tombstoned), d2's dedupes to its original owner,
      // and the second re-crawl of d1's content dedupes to the NEW owner
      // recorded by the first re-crawl.
      s"""WITH u AS (SELECT doc_id FROM (
         |      SELECT doc_id, count(*) OVER (PARTITION BY $NormSql) AS c
         |      FROM documents)
         |    WHERE c = 1 ORDER BY doc_id LIMIT 2),
         |d1 AS (SELECT min(doc_id) AS id FROM u),
         |d2 AS (SELECT max(doc_id) AS id FROM u)
         |SELECT CAST(9100000 + d1.id AS BIGINT) AS doc_id,
         |       CAST(1 AS BIGINT) AS is_new, CAST(NULL AS BIGINT) AS dup_of
         |FROM d1
         |UNION ALL
         |SELECT CAST(9100000 + d2.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(d2.id AS BIGINT) FROM d2
         |UNION ALL
         |SELECT CAST(9200000 + d1.id AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(9100000 + d1.id AS BIGINT) FROM d1
         |ORDER BY doc_id""".stripMargin),

    // TAKEDOWN on the incremental NEAR-dup shingle store — the scrubbed
    // doc's shingle postings and size row are derived data too. Doc 0
    // (always store-resident: store = doc_id % 3 == 0) is taken down;
    // a re-crawl of its text must match only the SURVIVING near-dups
    // (or report novel), a control probe of doc 3's text must keep
    // matching, and after the novel re-crawl re-enters the store a
    // second re-crawl must near-dup against the NEW owner at exact
    // Jaccard 0. The oracle replays every branch relationally over
    // documents (including the data-dependent "was the first re-crawl
    // novel" split).
    QuerySpec("neardup_store_delete", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sheddel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureShingleStore(
        s, corpus.filter(col("doc_id") % 3 === 0), store)
      graft.dedup.Dedup.dropShingleStoreMutations(store) // replay determinism
      import s.implicits._
      graft.dedup.Dedup.deleteFromShingleStore(
        s, store, Seq(0L).toDF("doc_id"), tag = "del")
      // bounded: two texts come back to build the probe batches
      val text0 = corpus.filter(col("doc_id") === 0L)
        .select(col("text")).head().getString(0)
      val text3 = corpus.filter(col("doc_id") === 3L)
        .select(col("text")).head().getString(0)
      val v1 = graft.dedup.Dedup.incrementalNearDupBatch(s, store,
        Seq((9300000L, text0), (9300003L, text3)).toDF("doc_id", "text"),
        batchTag = "re")
      val v2 = graft.dedup.Dedup.incrementalNearDupBatch(s, store,
        Seq((9400000L, text0)).toDF("doc_id", "text"), batchTag = "re2")
      v1.unionAll(v2).orderBy(col("doc_id"))
    }, () =>
      // The shingle-store takedown life cycle relationally: probes of doc
      // 0's and doc 3's texts against the %3 store MINUS doc 0, then the
      // second re-crawl's verdict split on whether the first was novel
      // (matched nothing surviving) — if so it near-dups the re-added
      // copy at exact Jaccard 0.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corp AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE doc_id % 3 = 0 AND doc_id <> 0 AND len(toks) >= 3),
         |csz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corp GROUP BY 1),
         |p0 AS (SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |       FROM t WHERE doc_id = 0 AND len(toks) >= 3),
         |p0z AS (SELECT CAST(count(*) AS BIGINT) AS b_size FROM p0),
         |s0 AS (SELECT i.c_id,
         |         1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p0z.b_size + csz.c_size - i.n_inter AS DOUBLE) AS jd
         |       FROM (SELECT c_id, CAST(count(*) AS BIGINT) AS n_inter
         |             FROM p0 JOIN corp USING (s) GROUP BY 1) i
         |       JOIN csz USING (c_id) CROSS JOIN p0z
         |       WHERE 1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p0z.b_size + csz.c_size - i.n_inter AS DOUBLE) <= 0.5),
         |n0 AS (SELECT min(c_id) AS id FROM s0),
         |j0 AS (SELECT s0.jd AS jd FROM s0 JOIN n0 ON s0.c_id = n0.id),
         |p3 AS (SELECT unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |       FROM t WHERE doc_id = 3 AND len(toks) >= 3),
         |p3z AS (SELECT CAST(count(*) AS BIGINT) AS b_size FROM p3),
         |s3 AS (SELECT i.c_id,
         |         1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + csz.c_size - i.n_inter AS DOUBLE) AS jd
         |       FROM (SELECT c_id, CAST(count(*) AS BIGINT) AS n_inter
         |             FROM p3 JOIN corp USING (s) GROUP BY 1) i
         |       JOIN csz USING (c_id) CROSS JOIN p3z
         |       WHERE 1.0 - CAST(i.n_inter AS DOUBLE) / CAST(p3z.b_size + csz.c_size - i.n_inter AS DOUBLE) <= 0.5),
         |n3 AS (SELECT min(c_id) AS id FROM s3),
         |j3 AS (SELECT s3.jd AS jd FROM s3 JOIN n3 ON s3.c_id = n3.id)
         |SELECT CAST(9300000 AS BIGINT) AS doc_id,
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       CAST((SELECT id FROM n0) AS BIGINT) AS near_dup_of,
         |       (SELECT jd FROM j0) AS jaccard_dist
         |UNION ALL
         |SELECT CAST(9300003 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST((SELECT id FROM n3) AS BIGINT), (SELECT jd FROM j3)
         |UNION ALL
         |SELECT CAST(9400000 AS BIGINT), CAST(0 AS BIGINT),
         |       CAST(CASE WHEN (SELECT id FROM n0) IS NULL THEN 9300000
         |            ELSE (SELECT id FROM n0) END AS BIGINT),
         |       CASE WHEN (SELECT id FROM n0) IS NULL THEN 0.0
         |            ELSE (SELECT jd FROM j0) END
         |ORDER BY doc_id""".stripMargin),

    // TAKEDOWN on the persisted FUZZY SIGNATURE store — the entity-
    // resolution leg of the derived-data scrub: customer 3's deletion-
    // neighborhood postings are tombstoned, and a resolve batch
    // carrying the EXACT names of customers 3 and 6 must fall through
    // to the best SURVIVING match for 3 (an ed-1 neighbor, relational
    // min over (dist, id)) while 6 keeps resolving exactly — with the
    // in-batch leg (earlier batch rows are candidates too) replayed by
    // the oracle verbatim.
    QuerySpec("fuzzy_store_delete", (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_fuzzdel_${dirKey(dir)}"
      graft.ops.FuzzyJoin.ensureFuzzyStore(s,
        cust.filter(col("c_custkey") % 3 === 0), store, "c_custkey", "c_name")
      graft.ops.FuzzyJoin.dropFuzzyStoreMutations(store) // replay determinism
      import s.implicits._
      graft.ops.FuzzyJoin.deleteFromFuzzyStore(s, store,
        Seq(3L).toDF("store_id"), tag = "del")
      val batch = cust.filter(col("c_custkey").isin(3L, 6L))
        .select((col("c_custkey") + lit(9500000L)).as("id"),
          col("c_name").as("name"))
      graft.ops.FuzzyJoin.incrementalFuzzyResolveBatch(s, store, batch,
          "id", "name", batchTag = Some("re"))
        .orderBy(col("id"))
    }, () =>
      // Brute-force replay of the masked resolve: store legs = %3
      // registry minus the tombstoned 3; in-batch legs = earlier batch
      // rows; best = min (dist, mid) per probe.
      """WITH seed AS (SELECT c_custkey AS sid, c_name AS sn FROM customer
        |              WHERE c_custkey % 3 = 0 AND c_custkey <> 3),
        |b AS (SELECT c_custkey + 9500000 AS id, c_name AS n FROM customer
        |      WHERE c_custkey IN (3, 6)),
        |m AS (SELECT x.id, y.sid AS mid, levenshtein(x.n, y.sn) AS dist
        |      FROM b x JOIN seed y ON levenshtein(x.n, y.sn) <= 1
        |      UNION ALL
        |      SELECT x.id, y.id AS mid, levenshtein(x.n, y.n) AS dist
        |      FROM b x JOIN b y ON y.id < x.id AND levenshtein(x.n, y.n) <= 1),
        |best AS (SELECT id, mid, dist FROM
        |      (SELECT id, mid, dist,
        |              row_number() OVER (PARTITION BY id ORDER BY dist, mid) AS rn
        |       FROM m) WHERE rn = 1)
        |SELECT x.id AS id, (b2.mid IS NULL) AS is_new, b2.mid AS dup_of,
        |       CAST(b2.dist AS INTEGER) AS dist
        |FROM b x LEFT JOIN best b2 ON x.id = b2.id ORDER BY id""".stripMargin),

    // TAKEDOWN on the perceptual SIGNATURE store (the media leg of the
    // derived-data scrub, exercised over the embedding midrange
    // signatures so the oracle shares the hammingSigCtes machinery):
    // the store holds the %3 corpus signatures, the self signature
    // (s_id 0) is tombstoned, and a re-ingest of vec 0's signature
    // must match only the SURVIVING nearest (min (hamming, id) within
    // ≤ 3) or report novel — the oracle replays the masked ranking.
    QuerySpec("sigstore_delete", (s, dir) => {
      val e = emb(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_binsig_${dirKey(dir)}"
      graft.index.Binary.ensureSignatureArtifact(e, artDir, EmbDim)
      val thr = graft.index.Binary.thresholdsFromArtifact(s, artDir)
      val sigs = graft.index.Binary.signatures(e, thr)
      val store =
        s"${System.getProperty("java.io.tmpdir")}/graft_sigdel_${dirKey(dir)}"
      graft.dedup.Dedup.ensureSigStore(s,
        sigs.filter(col("vec_id") % 3 === 0), store, idCol = "vec_id")
      graft.dedup.Dedup.dropSigStoreMutations(store) // replay determinism
      import s.implicits._
      graft.dedup.Dedup.deleteFromSigStore(s, store,
        Seq(0L).toDF("s_id"), tag = "del")
      val batch = sigs.filter(col("vec_id") === 0)
        .select((col("vec_id") + lit(9600000L)).as("vec_id"), col("sig"))
      graft.dedup.Dedup.incrementalSigDedupBatch(s, store, batch,
        batchTag = "re", maxHamming = 3, idCol = "vec_id")
    }, () =>
      // The masked signature ranking relationally: %3 store minus the
      // tombstoned s_id 0, min (hamming, id) within <= 3 or novel.
      s"""WITH $hammingSigCtes,
         |st AS (SELECT vec_id AS s_id, sig FROM sigs
         |       WHERE vec_id % 3 = 0 AND vec_id <> 0),
         |m AS (SELECT st.s_id AS s_id,
         |        CAST(bit_count(xor(st.sig, q.qsig)) AS INTEGER) AS hm
         |      FROM st CROSS JOIN qs q
         |      WHERE bit_count(xor(st.sig, q.qsig)) <= 3),
         |best AS (SELECT s_id, hm FROM
         |      (SELECT s_id, hm, row_number() OVER (ORDER BY hm, s_id) AS rn
         |       FROM m) WHERE rn = 1)
         |SELECT CAST(9600000 AS BIGINT) AS vec_id,
         |       CAST(CASE WHEN (SELECT count(*) FROM best) = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       CAST((SELECT s_id FROM best) AS BIGINT) AS near_dup_of,
         |       (SELECT hm FROM best) AS hamming""".stripMargin),

    // INCREMENTAL dedup: a synthetic "new crawl batch" (every %10==7 doc
    // re-delivered under a new id = planted duplicates; every %10==3 doc
    // with a ' graft-novel' suffix = planted novel content) checked
    // against the PERSISTED corpus hash store — the batch never touches
    // corpus text, only the ~48-byte/doc fingerprint artifact, and the
    // store side is never shuffled (batch hashes broadcast into its
    // scan). The oracle replays the whole construction from the corpus.
    QuerySpec("dedup_incremental", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val corpus = docs(s, dir)
      val storeDir = s"$tmp/graft_hashstore_$key"
      graft.dedup.Dedup.ensureHashStore(s, corpus, storeDir)
      val redelivered = corpus.filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val novel = corpus.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat(col("text"), lit(" graft-novel")).as("text"))
      graft.dedup.Dedup.newAgainstStore(s, storeDir, redelivered.unionAll(novel))
        .orderBy(col("doc_id"))
    }, () =>
      // Replays the store (first-owner per content hash) and the planted
      // batch; the suffixed branch re-derives the normalized hash of the
      // modified text exactly as the Spark side's concat.
      s"""WITH st AS (SELECT md5($NormSql) AS h, min(doc_id) AS first_id FROM documents GROUP BY 1),
         |b AS (SELECT doc_id + 5000000 AS doc_id, md5($NormSql) AS h
         |      FROM documents WHERE doc_id % 10 = 7
         |      UNION ALL
         |      SELECT doc_id + 6000000 AS doc_id,
         |             md5(lower(regexp_replace(trim(text || ' graft-novel'), '\\s+', ' ', 'g'))) AS h
         |      FROM documents WHERE doc_id % 10 = 3)
         |SELECT b.doc_id,
         |       CAST(CASE WHEN st.first_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_new,
         |       st.first_id AS dup_of
         |FROM b LEFT JOIN st USING (h)
         |ORDER BY doc_id""".stripMargin),

    // Incremental NEAR-dup: a new batch Jaccard-checks itself against
    // the persisted shingle-posting store (exact verdict — no banded
    // recall caveat); postings are never shuffled, the batch broadcasts
    // in and the verdicts broadcast back. Plants appended-edit near
    // dups (%10==4) and wholly novel rows (%10==6) under new ids.
    QuerySpec("dedup_incremental_near", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val corpus = docs(s, dir)
      val storeDir = s"$tmp/graft_shinglestore_$key"
      graft.dedup.Dedup.ensureShingleStore(s, corpus, storeDir)
      val near = corpus.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(col("text"), lit(" graft near dup probe xq")).as("text"))
      val novel = corpus.filter(col("doc_id") % 10 === 6)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          concat(lit("qx"), col("doc_id"),
            lit(" zz9k wv3j qq7x pp5m vv2r qx"), col("doc_id")).as("text"))
      graft.dedup.Dedup.nearDupsAgainstShingleStore(
          s, storeDir, near.unionAll(novel))
        .orderBy(col("doc_id"))
    }, () =>
      // Incremental near-dup: the oracle rebuilds the shingle postings
      // from the corpus, derives the identical planted batch, and takes
      // exact set Jaccard over shared shingles (md5-key equality on the
      // Spark side ≡ shingle equality here), min-corpus-id verdict.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |corp AS (SELECT doc_id AS c_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM t WHERE len(toks) >= 3),
         |csz AS (SELECT c_id, CAST(count(*) AS BIGINT) AS c_size FROM corp GROUP BY 1),
         |batch AS (
         |  SELECT doc_id + 7000000 AS b_id, text || ' graft near dup probe xq' AS btext
         |  FROM documents WHERE doc_id % 10 = 4
         |  UNION ALL
         |  SELECT doc_id + 8000000 AS b_id,
         |         'qx' || doc_id || ' zz9k wv3j qq7x pp5m vv2r qx' || doc_id
         |  FROM documents WHERE doc_id % 10 = 6),
         |bt AS (SELECT b_id, string_split(lower(regexp_replace(trim(btext), '\\s+', ' ', 'g')), ' ') AS toks FROM batch),
         |bsh AS (SELECT b_id,
         |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS s
         |  FROM bt WHERE len(toks) >= 3),
         |bsz AS (SELECT b_id, CAST(count(*) AS BIGINT) AS b_size FROM bsh GROUP BY 1),
         |inter AS (SELECT b_id, c_id, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM bsh JOIN corp USING (s) GROUP BY 1, 2),
         |sc AS (SELECT b_id, c_id,
         |         1.0 - CAST(n_inter AS DOUBLE) / CAST(b_size + c_size - n_inter AS DOUBLE) AS jd
         |       FROM inter JOIN csz USING (c_id) JOIN bsz USING (b_id)
         |       WHERE 1.0 - CAST(n_inter AS DOUBLE) / CAST(b_size + c_size - n_inter AS DOUBLE) <= 0.5),
         |best AS (SELECT b_id, min(c_id) AS near_dup_of FROM sc GROUP BY 1),
         |bj AS (SELECT best.b_id, best.near_dup_of, sc.jd
         |       FROM best JOIN sc ON sc.b_id = best.b_id AND sc.c_id = best.near_dup_of)
         |SELECT b.b_id AS doc_id,
         |       CAST(CASE WHEN bj.near_dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_novel,
         |       bj.near_dup_of, bj.jd AS jaccard_dist
         |FROM batch b LEFT JOIN bj USING (b_id)
         |ORDER BY doc_id""".stripMargin),

    // Full curation pipeline (language gate → quality gate → exact dedup
    // → near-dup cluster keep-min): every stage is an engine operator,
    // composed in the cost order a 100 TB pipeline wants — narrow
    // per-row gates shrink the corpus before the candidate joins run.
    QuerySpec("corpus_curate", (s, dir) => {
      graft.text.Curation.curate(docs(s, dir))
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }, () =>
      // The whole curation chain re-derived in SQL: the lang/quality gate
      // expressions are verbatim the doc_lang_id / doc_quality oracles
      // (both hash-matched, so the float comparisons agree bit-for-bit),
      // exact dedup is the doc_dedup_keep row_number device, and the
      // near-dup keep-set is the dedup_clusters recursive closure over the
      // gated survivors, keeping each component's minimum id.
      s"""WITH RECURSIVE base AS (SELECT doc_id, text, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |ling AS (SELECT doc_id, text, norm, toks,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM base),
         |gated AS (SELECT doc_id, text, norm, toks FROM ling
         |  WHERE (CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |              WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |              WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |              WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |              WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |              ELSE 'zh' END) = 'en'
         |    AND (least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.4 +
         |         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.4 +
         |         (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |                    / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2) >= 0.5),
         |ex AS (SELECT doc_id, text, toks FROM
         |        (SELECT doc_id, text, toks,
         |                row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id ASC) AS rn
         |         FROM gated) WHERE rn = 1),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM ex WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM ex
         |WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         |ORDER BY doc_id""".stripMargin),

    // Mixture resampling: re-weight the corpus toward a target source
    // distribution (30/30/40 over three sources; the rest dropped)
    // without upsampling — domain-mixture control, the knob every
    // pretraining data recipe turns. Thresholds are integer per-myriad
    // math from the source histogram (broadcast back; corpus never
    // shuffles), inclusion the usual md5 deviate.
    QuerySpec("corpus_mixture", (s, dir) => {
      graft.ops.Sampling.mixtureResample(docs(s, dir), "source",
          Map("src0" -> 0.3, "src1" -> 0.3, "src2" -> 0.4), salt = "mx")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }, () =>
      // Same integer threshold derivation from the source histogram, same
      // md5 deviate. floor() operands stay far below 2^53, so the double
      // floors are exact integer arithmetic in both engines.
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |tm AS (SELECT source, n,
         |         CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 3000 WHEN 'src2' THEN 4000 ELSE 0 END AS t_pm
         |       FROM c),
         |f AS (SELECT min(CAST(floor(n * 10000 / t_pm) AS BIGINT)) AS feasible_total FROM tm WHERE t_pm > 0),
         |th AS (SELECT source, least(10000, CAST(floor(feasible_total * t_pm / n) AS BIGINT)) AS thresh
         |       FROM tm, f WHERE t_pm > 0),
         |h AS (SELECT d.doc_id, d.source, th.thresh,
         |        list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'mx')[i]) AS BIGINT) - 1)
         |                  * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |      FROM documents d JOIN th USING (source))
         |SELECT doc_id, source FROM h WHERE bucket < thresh ORDER BY doc_id""".stripMargin),

    // In-engine logistic-regression TRAINING (the fastText/DCLM
    // quality-classifier move) as deterministic full-batch GD: rational
    // sigmoid (no libm variance), per-row gradients floored to micro
    // Longs BEFORE the reduction (exact integer sum, any partitioning),
    // truncating-division weight updates. 24 rounds, each ONE narrow
    // scan + one (dim+1)-column partial agg; weights re-enter as plan
    // literals. Model persisted behind the fingerprint sidecar. The
    // lang label is near-noise on this corpus (recorded honestly — the
    // NB query makes the same modest claim); the spec proves zero
    // training error on a separable corpus.
    QuerySpec("corpus_lr_train", (s, dir) => {
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, docs(s, dir), artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      graft.text.LogReg.modelFromArtifact(s, artDir)
    }, () =>
      // RETRAINS the classifier in SQL: per-token md5 bucket (mod 2^20),
      // per-bucket pos/neg occurrence counts under the lang='en' label,
      // the same add-one-smoothed ln-quantized NB log-odds weights, and
      // the same per-doc score sums — weight table and verdicts must both
      // reproduce from the data for the hash to match.
      // REPLAYS the whole GD run in SQL: data-derived vocab, feature
      // table, 24 unrolled weight layers (integer gradient sums,
      // truncating-division updates), then unpivots the final weights.
      {
      val wsel = (1 to 16).map { j =>
        f"SELECT fidx AS feat_idx, tok AS token, w$j%02d AS weight_micro FROM vocab, w24 WHERE fidx = $j"
      }.mkString("\n|UNION ALL ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT CAST(0 AS INT) AS feat_idx, '<bias>' AS token, w00 AS weight_micro FROM w24
         |UNION ALL $wsel
         |ORDER BY feat_idx""".stripMargin
    }),

    // Classifier-guided data SELECTION (the DCLM/fastText move: train
    // a quality classifier, keep the top slice by score): top-100 docs
    // by LR score with deterministic (score DESC, id) tie-break — a
    // TakeOrdered cut, never a global sort.
    QuerySpec("corpus_lr_select", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      val feats = graft.text.LogReg.features(d, vocab, col("lang") === "en")
      graft.text.LogReg.scores(feats, w)
        .select(col("doc_id"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("doc_id").asc)
        .limit(100)
    }, () =>
      // The same chain, scored and cut to the top-100 with the (score
      // DESC, id) tie-break.
      {
      val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT doc_id,
         |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro
         |FROM (SELECT f.doc_id, $zSum AS z FROM f CROSS JOIN w24) q
         |ORDER BY score_micro DESC, doc_id LIMIT 100""".stripMargin
    }),

    // Epoch-upsampling mixture: 50/30/20 over three sources within 4
    // epochs — src0 runs 4 full epochs, src1 lands between 2 and 3
    // (deterministic md5-deviate fraction gets the 3rd), src2 between
    // 1 and 2. One row per (doc, epoch); pure integer threshold math.
    QuerySpec("corpus_epochs", (s, dir) => {
      graft.ops.Sampling.upsampleToMixture(docs(s, dir), "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          maxEpochs = 4, salt = "ep")
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }, () =>
      // Replays the integer epoch plan (feasible total → per-category
      // base epochs + extra-epoch threshold, all // arithmetic) and
      // expands each doc with unnest(range(epochs)).
      s"""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |tm AS (SELECT source, n,
         |         CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 3000 WHEN 'src2' THEN 2000 ELSE 0 END AS t_pm
         |       FROM c),
         |f AS (SELECT min((n * 4 * 10000) // t_pm) AS feasible FROM tm WHERE t_pm > 0),
         |pl AS (SELECT source, n, (feasible * t_pm) // 10000 AS needed
         |       FROM tm, f WHERE t_pm > 0),
         |th AS (SELECT source, needed // n AS base_e,
         |              ((needed % n) * 10000) // n AS extra_pm
         |       FROM pl),
         |h AS (SELECT d.doc_id, d.source,
         |        th.base_e + CASE WHEN
         |          list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(d.doc_id AS VARCHAR) || 'ep')[i]) AS BIGINT) - 1)
         |                    * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 < th.extra_pm
         |          THEN 1 ELSE 0 END AS epochs
         |      FROM documents d JOIN th USING (source))
         |SELECT doc_id, source, CAST(u.e AS BIGINT) AS epoch
         |FROM h, unnest(range(epochs)) AS u(e)
         |WHERE epochs > 0 ORDER BY doc_id, epoch""".stripMargin),

    // Deterministic corpus shuffle: the reproducible training order —
    // md5(id‖salt) range sort, seed-stable under retries and engines.
    // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
    // top-200 docs by u^(1/w) rank keys, w = token count — the
    // token-budget-proportional sample. One narrow key map + a
    // TakeOrdered cut; micro-quantized ln keys, id tie-break.
    QuerySpec("corpus_weighted_sample", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      graft.ops.Sampling.weightedSample(d, m = 200,
          weight = col("n_toks"), salt = "ws")
        .select(col("doc_id"), col("n_toks"), col("es_key"))
    }, () =>
      // Recomputes the 32-bit deviate (digit-parse twin), u = (dev+0.5)/2^32,
      // key = floor(1e6 * (ln(u)/w)) — identical op order — then the
      // top-200 cut with the id tie-break.
      s"""WITH t AS (SELECT doc_id, CAST(len($ToksSql) AS BIGINT) AS n_toks FROM documents),
         |k AS (SELECT doc_id, n_toks,
         |  CAST(floor(1000000.0 * (ln(
         |    (CAST(list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 'ws')[i]) AS BIGINT) - 1)
         |                    * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) AS DOUBLE) + 0.5)
         |    / 4294967296.0) / CAST(n_toks AS DOUBLE))) AS BIGINT) AS es_key
         |  FROM t)
         |SELECT doc_id, n_toks, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 200""".stripMargin),

    QuerySpec("corpus_shuffle", (s, dir) => {
      graft.ops.Sampling.shuffleOrder(docs(s, dir), salt = "sh")
        .select(col("doc_id"), col("shuffle_key"))
    }, () =>
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || 'sh') AS shuffle_key
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),

    // Corpus report: per-(source, lang) row counts, token volume, and
    // ln-quantized quality sums — the reporting rollup a curation run
    // ships with. One shuffle on the tiny (source, lang) key space.
    QuerySpec("corpus_report", (s, dir) => {
      val d = docs(s, dir)
      d.groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"),
          sum(floor(TextAnalysis.qualityScore(col("text")) * 1e6).cast("long")).as("quality_micro"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("source"), col("lang"))
    }, () =>
      // Quality re-derived per row (verbatim the doc_quality oracle) and
      // ln-quantized BEFORE summing, so the aggregate is an integer sum —
      // order-free, hash-stable.
      s"""WITH t AS (SELECT doc_id, source, lang, n_chars, $ToksSql AS toks FROM documents),
         |q AS (SELECT doc_id, source, lang, n_chars,
         |        CAST(len(toks) AS BIGINT) AS n_tok,
         |        least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) * 0.4 +
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.4 +
         |        (CASE WHEN CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |                   / CAST(len(toks) AS DOUBLE) BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |      FROM t)
         |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(sum(CAST(floor(quality * 1e6) AS BIGINT)) AS BIGINT) AS quality_micro,
         |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Leakage-safe train/val/test split: the split label is a function
    // of the near-dup CLUSTER id (docs outside any cluster group alone),
    // so near-duplicates of a training doc can never leak into eval —
    // the contamination-control op every pretraining corpus needs. The
    // cluster map is a PERSISTED, fingerprint-guarded artifact
    // (Dedup.clusterArtifact): built once per corpus snapshot, every
    // split/report joins against the parquet — the query measures the
    // join, not a per-consumer recompute of the candidate join + CC.
    QuerySpec("corpus_split", (s, dir) => {
      val d = docs(s, dir)
      val cc = Dedup.clusterArtifact(d, ivfLayoutDir(dir, "docclusters"),
        n = 3, minJaccard = 0.3, maxShingleDf = 500L)
      d.join(cc, Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("split", graft.ops.Sampling.groupedSplit(col("grp"), salt = "sp1"))
        .select(col("doc_id"), col("grp"), col("split"))
        .orderBy(col("doc_id"))
    }, () =>
      // The dedup_clusters closure, left-joined onto the corpus (cluster
      // id for members, own id otherwise), then the same md5 deviate
      // bucketed into cumulative split cuts (8000/9000/10000).
      s"""WITH RECURSIVE t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT id_a, id_b FROM inter
         |      JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
         |      WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         |reach(a, b) AS (SELECT src, dst FROM edges
         |                UNION
         |                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
         |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a),
         |g AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         |h AS (SELECT doc_id, grp,
         |  list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(grp AS VARCHAR) || 'sp1')[i]) AS BIGINT) - 1)
         |            * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |  FROM g)
         |SELECT doc_id, grp,
         |       CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // Sequence packing into 256-token context windows: docs hash into 8
    // independent parts (pure function of the id), each packed by a
    // greedy in-id-order scan — embarrassingly parallel, and the oracle
    // replays every bin assignment with a per-part recursive recurrence.
    QuerySpec("seq_pack", (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      graft.ops.Packing.packGreedy(d, budget = 256L, nParts = 8)
        .orderBy(col("doc_id"))
    }, () =>
      // Replays the two-level packing exactly: the same md5 deviate mod 8
      // assigns parts, and a per-part recursive recurrence walks docs in
      // id order carrying (bin_idx, fill) — the greedy rule verbatim.
      StreamPackIdsOracle),

    // Per-source document cap (C4/RefinedWeb per-domain cap): keep the
    // first 40 docs by id of every source. Naive window-rank form; the
    // TopKWindowRewrite (GraftSession) plans it as the bounded row_topk
    // aggregate — plan-audited — while the result must still equal the
    // DuckDB window-form oracle exactly.
    QuerySpec("corpus_source_cap", (s, dir) => {
      graft.ops.Sampling.capPerGroup(docs(s, dir), col("source"), col("doc_id"), cap = 40)
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy(col("source"), col("rk"))
    }, () =>
      // The window form IS the spec; Spark executes the rewritten
      // bounded-aggregate plan and must reproduce it exactly.
      // (row_number: INT in Spark, BIGINT in DuckDB — cast.)
      """WITH r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rk
        |  FROM documents)
        |SELECT doc_id, source, rk FROM r WHERE rk <= 40
        |ORDER BY source, rk""".stripMargin),

    // Token-budget mix: best-quality-first selection per source until a
    // cumulative token quota is spent — the budgeted variant of the
    // row cap above (a mix recipe speaks in tokens, not rows). The
    // first row of a group always survives even if it alone overshoots.
    QuerySpec("corpus_token_budget", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.tokenBudgetPerGroup(d, col("source"),
          Seq(col("q").desc, col("doc_id").asc), col("n_tokens"), budget = 600L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    }, () =>
      // Replays the quality expression (same op order as doc_quality),
      // then the per-source best-first running token total; a row
      // survives iff the budget was not exhausted BEFORE it.
      s"""WITH t AS (SELECT doc_id, source, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(len(toks) AS DOUBLE) AS n_tok,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |        CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS stop
         |      FROM t),
         |q AS (SELECT doc_id, source, n_tokens,
         |        least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |        (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |      FROM s),
         |c AS (SELECT doc_id, source, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < 600 ORDER BY doc_id""".stripMargin),

    // Packed-sequence MATERIALIZATION: the trainer-facing output of
    // seq_pack — each (part, bin) emits its docs' text concatenated in
    // id order. The oracle replays the greedy recurrence AND the
    // ordered string_agg, so the whole pack→emit path is hash-pinned.
    QuerySpec("seq_pack_text", (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      val packed = graft.ops.Packing.packGreedy(
        d.select("doc_id", "n_tokens"), budget = 256L, nParts = 8)
      graft.ops.Packing.packText(packed, d, sep = "\n")
        .select(col("part"), col("bin_idx"), col("n_docs"),
          md5(col("packed_text")).as("packed_md5"))
        .orderBy(col("part"), col("bin_idx"))
    }, () =>
      // Replays the seq_pack recurrence, then the ordered concatenation:
      // md5 of string_agg(text, '\n' ORDER BY doc_id) per (part, bin)
      // must equal Spark's array_sort-struct reassembly byte-for-byte.
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text,
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
         |SELECT p.part, p.bin_idx, CAST(count(*) AS BIGINT) AS n_docs,
         |       md5(string_agg(b.text, chr(10) ORDER BY b.doc_id)) AS packed_md5
         |FROM pack p JOIN base b USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  )
}
