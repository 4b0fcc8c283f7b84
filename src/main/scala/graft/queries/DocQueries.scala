package graft
package queries

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.ops.VectorSearch
import graft.text.TextAnalysis

/** Text analytics: normalisation, quality and language gates,
  * retrieval indexes, and the tokenizer families. Each query is
  * declared next to its DuckDB oracle. */
object DocQueries {
  import Fixtures._, OracleSql._, TokenizerOracleSql._

  val specs: Seq[QuerySpec] = Seq(
    // Overlapping context-window chunking (32-token windows, stride 24
    // — 8-token overlap): the RAG / long-doc splitter. Boundaries are
    // integer arithmetic; each chunk's CONTENT is pinned via the md5 of
    // the space-joined window. Narrow explode, no shuffle.
    QuerySpec("doc_chunks", (s, dir) => {
      TextAnalysis.docChunks(docs(s, dir), window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, () =>
      // Replays the window arithmetic (K = ⌈(n−32)/24⌉ via integer ceil)
      // and pins every chunk's content hash.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |st AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
         |k AS (SELECT doc_id, toks, n,
         |        unnest(range(0, CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END + 1)) AS chunk_idx
         |      FROM st),
         |ch AS (SELECT doc_id, chunk_idx,
         |         toks[(chunk_idx*24 + 1):least(chunk_idx*24 + 32, n)] AS chunk
         |       FROM k)
         |SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
         |       md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // Windowed PMI collocations: map-only pair generation (posexplode +
    // slice — no self-join), map-side partial counts, minCount cut
    // before the unigram joins, 1-row broadcast totals, TakeOrdered.
    QuerySpec("doc_pmi_pairs", (s, dir) => {
      TextAnalysis.pmiPairs(docs(s, dir), window = 3, minCount = 5L, topK = 30,
        broadcastUnigrams = true)
    }, () =>
      s"""WITH t AS (SELECT $ToksSql AS toks FROM documents),
         |pr AS (SELECT toks[i] AS a, toks[i+d] AS b
         |       FROM t, unnest(range(1, len(toks)+1)) AS u(i),
         |              unnest(range(1, 4)) AS v(d)
         |       WHERE i + d <= len(toks)),
         |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
         |uc AS (SELECT w, count(*) AS n_w
         |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM uc),
         |tp AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS n_pairs FROM pc)
         |SELECT pc.a, pc.b, CAST(pc.n_ab AS BIGINT) AS n_ab,
         |       CAST(floor(ln((CAST(pc.n_ab AS DOUBLE) / tp.n_pairs) /
         |            ((CAST(ua.n_w AS DOUBLE) / tt.n_tok) *
         |             (CAST(ub.n_w AS DOUBLE) / tt.n_tok))) * 1000000.0) AS BIGINT)
         |         AS pmi_micro
         |FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w, tt, tp
         |WHERE pc.n_ab >= 5
         |ORDER BY pmi_micro DESC, pc.a, pc.b LIMIT 30""".stripMargin),

    // BPE inference over the corpus with the merges just learned:
    // train (bounded driver artifact) → apply every rule in rank order
    // per word (narrow fold, no shuffle) — the md5 of each doc's
    // subword sequence byte-checks the full train→tokenize path.
    QuerySpec("doc_bpe_tokenize", (s, dir) => {
      val d = docs(s, dir)
      val merges = graft.text.Bpe.learnMerges(d, numMerges = 6).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.applyMerges(d, merges)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }, () =>
      // Train→apply: same rounds with the word key carried through, then
      // positional re-tokenization of every document; md5 byte-check.
      BpeTokenizeOracleSql),

    // BPE inference at the full ~90-rule vocabulary: rules from the
    // shared merge artifact, each round's disjoint rule set applied as
    // ONE combined fold over the word cache — 8 materialized vocab
    // steps for ~90 rules (vs one per rule), the rule-count-scalable
    // apply.
    QuerySpec("doc_bpe_tokenize_batch", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${dirKey(dir)}"
      graft.text.Bpe.ensureMergeArtifact(s, d, artDir,
        rounds = 8, batchSize = 16, candCap = 256)
      val rounds = graft.text.Bpe.loadMergeRounds(s, artDir)
      graft.text.Bpe.applyMergesGrouped(d, rounds)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }, () => bpeBatchTokenizeOracleSql(rounds = 8, batchSize = 16, candCap = 256)),

    // BPE inference with an EXTERNAL rank-ordered merge list — the
    // 1.1k-rule shipped fixture (graft.tools.GenExtMerges provenance),
    // rank-ordered and NON-disjoint like every real merges.txt, so the
    // grouped per-round fold is not legal and the per-rule chain would
    // cost 1.1k materialized steps. Instead: the standard priority
    // loop (lowest-ranked present pair first) as ONE codegen kernel
    // over the word cache — one narrow map stage; rule count sizes
    // only the hashed rank map. The iteration bound is DERIVED from
    // the data (max symbol count - 1, logged) so every word fully
    // converges structurally; the oracle unrolls a static 16 steps
    // >= any derived bound here (converged words idle through surplus
    // layers untouched).
    QuerySpec("doc_bpe_tokenize_ext", (s, dir) => {
      graft.text.Bpe.applyMergesRanked(docs(s, dir),
          graft.text.Bpe.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }, () => bpeExtTokenizeOracleSql(maxIters = 16)),

    // Unigram INFERENCE end-to-end: train (as above, via the shared
    // vocab artifact), then Viterbi-segment every document through the
    // word cache under the final piece costs, positional rejoin — the
    // complete SentencePiece-style pipeline, oracle-replayed train AND
    // apply.
    QuerySpec("doc_unigram_tokenize", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenize(d, vocab)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_pieces"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    }, () => unigramTokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // Unigram TOKEN IDS — SentencePiece id conventions (<unk>=0,
    // <s>=1, </s>=2, trained pieces 3+rank by score order), the
    // unigram twin of doc_bpe_token_ids: Viterbi AND the hashed
    // piece->id probe (VocabIdsExpr — O(1) at any vocab size) both run
    // inside the word cache, OOV fallback chars coalesce to <unk>, and
    // each document terminates with </s>. The oracle assigns ids by
    // row_number over the replayed final vocabulary and maps the
    // segmented pieces through a LEFT JOIN + coalesce(0).
    QuerySpec("doc_unigram_ids", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      graft.text.Unigram.tokenIds(d, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => unigramIdsOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // BYTE FALLBACK (SentencePiece --byte_fallback, the Llama-family
    // convention): train on `documents`, apply to the EXTENDED corpus
    // — whose fixture rows carry accents/CJK/emoji the training corpus
    // never saw, exactly when the fallback fires. An OOV character
    // expands to its UTF-8 bytes as <0xXX> pieces (ids 3..258; trained
    // pieces 259+rank) instead of collapsing to <unk>, so
    // segmentation-by-ids stays TOTAL over arbitrary new text.
    // n_fallback counts the byte-piece ids — the observable proving
    // the fallback actually fired. Viterbi + the hashed
    // probe-or-expand kernel run once per DISTINCT word.
    QuerySpec("doc_unigram_byte_fallback", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      graft.text.Unigram.tokenIdsByteFallback(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => unigramByteFallbackOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // CHARACTER COVERAGE (SentencePiece --character_coverage, here an
    // integer permyriad): train at 98% character mass — the rare tail
    // of the corpus alphabet is excluded from the seed and KEPT out
    // through the EM rounds (UNK emissions do not re-enter; multi-char
    // pieces cannot smuggle an excluded char back in) — then
    // byte-fallback-tokenize the SAME corpus: the excluded in-corpus
    // tail now byte-falls-back, which is the point of the knob (vocab
    // slots go to useful pieces; coverage of the text stays total).
    QuerySpec("doc_unigram_coverage", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_cov_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, d, artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val lo = graft.text.Unigram.ByteBase
      val hi = lo + graft.text.Unigram.BytePieces - 1
      graft.text.Unigram.tokenIdsByteFallback(d, vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => unigramCoverageOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150, coveragePermyriad = 9800)),

    // TOKEN WINDOWS — the chunking step between tokenization and the
    // model (training context windows, RAG passage chunks): each
    // document's GPT-2-path ids cut into 64-token windows at stride
    // 48 (16-token overlap), the tail window kept short — one NARROW
    // map per document (sequence + slice inside a single projection,
    // no shuffle, no per-window join), the shape that holds when the
    // corpus is 100 TB of token arrays. The oracle replays the same
    // slicing arithmetic over the replayed ids.
    QuerySpec("doc_token_windows", (s, dir) => {
      val window = 64
      val stride = 48
      graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0), floor((size(col("token_ids")) - 1) / lit(stride)).cast("int")),
          k => slice(col("token_ids"), k * lit(stride) + 1, lit(window))))
          .as(Seq("win_idx", "win")))
        .select(col("doc_id"), col("win_idx"),
          size(col("win")).cast("long").as("n_win"),
          md5(concat_ws(",", col("win"))).as("win_md5"))
        .orderBy(col("doc_id"), col("win_idx"))
    }, () => tokenWindowsOracleSql(maxIters = 36, window = 64, stride = 48)),

    // EXTERNAL SentencePiece model apply — the user brings a PUBLISHED
    // unigram tokenizer (every Llama-family model ships a `.model`
    // ModelProto file; the shipped fixture is that file in the exact
    // Llama layout, generated deterministically): NORMAL pieces form
    // the Viterbi lattice at their quantized score costs with the ids
    // the MODEL assigns, the BYTE block backs out-of-vocabulary
    // fallback, </s> terminates each document, ▁ convention
    // throughout. No training anywhere — the unigram twin of
    // doc_bpe_tokenize_ext's merges.txt path. The oracle inlines the
    // model rows as VALUES and replays segmentation + id mapping.
    QuerySpec("doc_unigram_ext_model", (s, dir) => {
      val model = graft.text.Unigram.externalFixtureModel()
      val lo = model.indexWhere(_.ptype == graft.text.Unigram.SpByte)
      val hi = lo + 255
      graft.text.Unigram.tokenIdsFromModel(extDocs(s, dir), model)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x.between(lit(lo), lit(hi)))).cast("long").as("n_fallback"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => unigramExtModelOracleSql(maxPieceLen = 4)),

    // The unigram ROUND-TRIP under the driver's hash gate — the full
    // production SentencePiece shape: ▁-marked training (the
    // add_dummy_prefix/whitespace-escape convention shipped models
    // use) + byte fallback, applied to the extended corpus, DECODED
    // back in one codegen kernel (pieces/bytes assemble, control ids
    // drop, markers become spaces) and compared against the
    // pretokenizer's own normalization of the original text —
    // `lossless` is the observable; exotic byte-fallback chars
    // included. A regression in EITHER direction of the ▁ pipeline is
    // a hash mismatch here.
    QuerySpec("doc_unigram_detokenize", (s, dir) => {
      val x = extDocs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_unigram_sp_${dirKey(dir)}"
      graft.text.Unigram.ensureVocabArtifact(s, docs(s, dir), artDir,
        rounds = 2, maxPieceLen = 4, topMulti = 150, marker = true)
      val vocab = graft.text.Unigram.loadVocabCounts(s, artDir)
      val ids = graft.text.Unigram.tokenIdsByteFallback(x, vocab, marker = true)
      graft.text.Unigram.detokenize(ids, vocab)
        .join(x, "doc_id")
        .select(col("doc_id"), col("text_rt"),
          (col("text_rt") === graft.text.TextAnalysis.normalizeText(col("text")))
            .as("lossless"))
        .orderBy(col("doc_id"))
    }, () => unigramDetokenizeOracleSql(rounds = 2, maxPieceLen = 4, topMulti = 150)),

    // WORDPIECE inference — NOT merge replay: the released
    // WordpieceTokenizer greedily takes the LONGEST vocabulary piece
    // at each position (##-prefixed at continuation positions); a
    // position matching nothing turns the whole word into [UNK] (the
    // is_bad semantics). Train on `documents`, apply to the EXTENDED
    // corpus — whose digits/accents/CJK/emoji are outside the trained
    // alphabet, exactly where [UNK] fires. One codegen kernel per
    // DISTINCT word (WordPieceExpr), positional rejoin.
    QuerySpec("doc_wordpiece_tokenize", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenize(
          extDocs(s, dir), graft.text.WordPiece.matchPieces(vocab))
        .select(col("doc_id"),
          size(col("wp_tokens")).cast("long").as("n_pieces"),
          size(filter(col("wp_tokens"),
            x => x === lit(graft.text.WordPiece.UnkToken)))
            .cast("long").as("n_unk"),
          md5(concat_ws(" ", col("wp_tokens"))).as("pieces_md5"))
        .orderBy(col("doc_id"))
    }, () => wpTokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // WORDPIECE TOKEN IDS under the BERT vocab.txt conventions:
    // specials [PAD]=0 [UNK]=1 [CLS]=2 [SEP]=3 [MASK]=4, the alphabet
    // from 5, merge outputs in rank order (first id wins on
    // duplicates); every document framed [CLS] … [SEP]. Greedy
    // segmentation AND the hashed O(1) piece->id probe both run inside
    // the word cache.
    QuerySpec("doc_wordpiece_ids", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenIds(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"),
            x => x === lit(graft.text.WordPiece.UnkId)))
            .cast("long").as("n_unk"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => wpIdsOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // WORDPIECE DECODE — ids back to text as one codegen kernel
    // (WordPieceDecodeExpr): control ids ([PAD]/[CLS]/[SEP]/[MASK])
    // drop, ## pieces glue to the previous word, everything else
    // ([UNK] included) opens a space-separated word. `lossless`
    // compares against the normalized source, so the round-trip sits
    // under the driver's hash gate — [UNK]-carrying rows are honestly
    // false, everything the vocabulary covers comes back exactly.
    QuerySpec("doc_wordpiece_detokenize", (s, dir) => {
      val d = docs(s, dir)
      val x = extDocs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_wordpiece_${dirKey(dir)}"
      graft.text.WordPiece.ensureMergeArtifact(s, d, artDir, numMerges = 8)
      val vocab = graft.text.WordPiece.vocabFromArtifact(s, artDir)
      graft.text.WordPiece.tokenIds(x, vocab)
        .select(col("doc_id"),
          graft.text.WordPiece.decodeIds(col("token_ids"), vocab)
            .as("text_rt"),
          size(filter(col("token_ids"),
            i => i === lit(graft.text.WordPiece.UnkId)))
            .cast("long").as("n_unk"))
        .join(x, "doc_id")
        .select(col("doc_id"), col("text_rt"), col("n_unk"),
          (col("text_rt") ===
            graft.text.TextAnalysis.normalizeText(col("text")))
            .as("lossless"))
        .orderBy(col("doc_id"))
    }, () => wpDetokenizeOracleSql(numMerges = 8, unroll = 40, lmax = 10)),

    // BRING-YOUR-OWN WordPiece: a released vocab.txt is the COMPLETE
    // inference artifact (greedy longest-match needs only the
    // vocabulary — no merges file exists at inference time). The
    // shipped fixture uses the bert-base layout: [PAD]=0, an
    // [unusedN] block, [UNK]/[CLS]/[SEP]/[MASK] at 11–14 — ids that
    // deliberately DIFFER from this engine's training constants, so a
    // green hash proves the id plumbing is file-driven. Pure
    // inference: no training pass, one kernel per distinct word.
    QuerySpec("doc_wordpiece_ext_vocab", (s, dir) => {
      val vocab = graft.text.WordPiece.externalFixtureVocab()
      val unkId = vocab.collectFirst { case ("[UNK]", i) => i }.get
      graft.text.WordPiece.tokenIdsExternal(extDocs(s, dir), vocab)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          size(filter(col("token_ids"), x => x === lit(unkId)))
            .cast("long").as("n_unk"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => wpExtVocabOracleSql(unroll = 40)),

    // The byte-fallback property MEASURED: of the extended corpus's
    // distinct non-whitespace characters, every one decomposes into
    // the 256-symbol byte-level base alphabet (computed per char, not
    // assumed), while the char-level token alphabet covers only the
    // lowercased survivors — uppercase, punctuation, CJK, emoji drop.
    QuerySpec("doc_bytelevel_coverage", (s, dir) =>
      graft.text.ByteLevel.coverageReport(extDocs(s, dir)), () => byteLevelCoverageOracleSql),

    // The GPT-2 PRODUCTION inference path end-to-end: raw-text
    // pretokens → byte symbolization → the priority loop over an
    // external rank-ordered BYTE-LEVEL merge list (the shipped
    // 1.1k-rule fixture with Ġ-space merges) — byte-level × ranked,
    // the combination every deployed tokenizer runs. One codegen
    // kernel pass per distinct pretoken; the oracle unrolls the loop
    // over the byte-level word table.
    QuerySpec("doc_bpe_tokenize_gpt2", (s, dir) => {
      graft.text.ByteLevel.applyMergesRanked(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }, () =>
      // 36 unrolled layers >= the derived per-run bound at any SF (the
      // longest extended-corpus pretoken is 35 bytes; surplus layers are
      // no-ops on converged words) — asserted by BpeExtSpec
      bpeGpt2TokenizeOracleSql(maxIters = 36)),

    // TOKEN IDS — the tensor a model consumes: the GPT-2-path subwords
    // mapped through the vocab id table the fixture list induces (base
    // bytes 0–255 by byte value, merge outputs 256+rank, first rank
    // wins on duplicate outputs). One HASHED reference-object probe
    // per subword (VocabIdsExpr) — O(1) at any vocabulary size, where
    // the earlier typedLit map literal cost a linear scan per lookup.
    QuerySpec("doc_bpe_token_ids", (s, dir) => {
      graft.text.ByteLevel.tokenIds(extDocs(s, dir),
          graft.text.ByteLevel.externalFixtureMerges())
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => bpeTokenIdsOracleSql(maxIters = 36)),

    // BRING-YOUR-OWN tokenizer.json — the HuggingFace single-file
    // serialization, the third external-tokenizer format this engine
    // loads (after merges.txt and the SentencePiece .model proto):
    // model.vocab is the AUTHORITATIVE id map (never re-derived from
    // rank conventions), model.merges feed the ranked kernel, the
    // ByteLevel pre_tokenizer block is validated (any other pipeline
    // rejects loudly), and <|endoftext|> appends per document at the
    // file's added-token id. Same plan shape as doc_bpe_token_ids —
    // one kernel pass per distinct pretoken, hashed O(1) id probe.
    QuerySpec("doc_hf_tokenizer_json", (s, dir) => {
      val m = graft.text.HfTokenizer.externalFixture()
      graft.text.HfTokenizer.tokenIds(extDocs(s, dir), m)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          md5(concat_ws(",", col("token_ids"))).as("ids_md5"))
        .orderBy(col("doc_id"))
    }, () => hfTokenizerOracleSql(maxIters = 36)),

    // DECODE as a declared query — the round-trip under the driver's
    // hash gate: tokenIds' output decoded back through the reverse
    // vocab + inverse byte alphabet in ONE codegen kernel, compared
    // against the ORIGINAL raw text (`lossless`). A regression in
    // either direction of the tokenizer shows up as a hash mismatch
    // here, not just a failed unit spec.
    QuerySpec("doc_detokenize", (s, dir) => {
      val d = extDocs(s, dir)
      val fixture = graft.text.ByteLevel.externalFixtureMerges()
      val ids = graft.text.ByteLevel.tokenIds(d, fixture)
      graft.text.ByteLevel.detokenize(ids, fixture)
        .join(d, "doc_id")
        .select(col("doc_id"), col("text_rt"),
          (col("text_rt") === col("text")).as("lossless"))
        .orderBy(col("doc_id"))
    }, () => detokenizeOracleSql(maxIters = 36)),

    // FIM (fill-in-the-middle, Bavarian et al. 2022 — PSM format):
    // the infilling-training transform — each document splits at
    // deterministic char points (1/3, 2/3) and reorders to
    // <PRE>prefix<SUF>suffix<MID>middle, so the model learns to
    // generate the middle conditioned on both sides. Pure whole-stage
    // codegen string arithmetic (substr on column-derived offsets,
    // one narrow scan, no shuffle); the oracle replays the identical
    // integer-division split math.
    QuerySpec("doc_fim_transform", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val len = length(col("text"))
      val c1 = (len / 3).cast("int")
      val c2 = (len * 2 / 3).cast("int")
      d.select(col("doc_id"),
          concat(
            lit("<PRE>"), col("text").substr(lit(1), c1),
            lit("<SUF>"), col("text").substr(c2 + 1, len - c2),
            lit("<MID>"), col("text").substr(c1 + 1, c2 - c1)).as("fim_text"),
          (c2 - c1).cast("long").as("n_mid_chars"))
        .orderBy(col("doc_id"))
    }, () =>
      // The identical integer-division split math over the raw text.
      """WITH s AS (SELECT doc_id, text,
        |             len(text) // 3 AS c1, (len(text) * 2) // 3 AS c2
        |           FROM documents)
        |SELECT doc_id,
        |       '<PRE>' || substr(text, 1, c1)
        |         || '<SUF>' || substr(text, c2 + 1)
        |         || '<MID>' || substr(text, c1 + 1, c2 - c1) AS fim_text,
        |       CAST(c2 - c1 AS BIGINT) AS n_mid_chars
        |FROM s ORDER BY doc_id""".stripMargin),

    // Byte-level train→APPLY end-to-end: the rounds learned over the
    // byte-level word table tokenize the extended corpus through the
    // shared word cache (distinct PRETOKENS, one combined fold per
    // round, positional rejoin) — case, punctuation, and emoji survive
    // into subwords the char-level path cannot produce.
    QuerySpec("doc_bpe_bytelevel_tokenize", (s, dir) => {
      val d = extDocs(s, dir)
      val rounds = graft.text.Bpe.learnRoundsFrom(
          graft.text.ByteLevel.wordTable(d),
          rounds = 4, batchSize = 8, candCap = 128)
        .map(_.map(t => (t._1, t._2)))
      graft.text.ByteLevel.applyMergesGrouped(d, rounds)
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_subwords"),
          md5(concat_ws(" ", col("bpe_tokens"))).as("subword_md5"))
        .orderBy(col("doc_id"))
    }, () =>       bpeByteLevelTokenizeOracleSql(rounds = 4, batchSize = 8, candCap = 128)),

    // Phrase rewrite: top-20 adjacent-bigram collocations by PMI
    // (bounded driver artifact), then a narrow greedy fold merges each
    // occurrence into a single token — the word2vec phrase pass; the
    // md5 makes the rewrite byte-checkable against the oracle.
    QuerySpec("doc_phrase_rewrite", (s, dir) => {
      // the phrase set is a persisted artifact (fingerprint sidecar,
      // build once / probe many): repeat rewrites pay the narrow fold
      // (~the corpus_split precedent), not the corpus-wide PMI derive
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_phrases_${dirKey(dir)}"
      TextAnalysis.ensurePhraseArtifact(s, docs(s, dir), artDir,
        minCount = 5L, topK = 20, broadcastUnigrams = true)
      TextAnalysis.phraseRewriteWithArtifact(s, docs(s, dir), artDir)
        .orderBy(col("doc_id"))
    }, () =>
      // Phrase rewrite: the oracle re-derives the same top-20 adjacent
      // collocations (the doc_pmi_pairs arithmetic at window 1) and
      // replays the greedy fold via list_reduce keyed by the phrase set;
      // the md5 of the rewritten text must match byte-for-byte.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |pr AS (SELECT toks[i] AS a, toks[i+1] AS b
         |       FROM t, unnest(range(1, len(toks))) AS u(i)),
         |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
         |uc AS (SELECT w, count(*) AS n_w
         |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_w) AS DOUBLE) AS n_tok FROM uc),
         |tp AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS n_pairs FROM pc),
         |sel AS (SELECT pc.a, pc.b,
         |    CAST(floor(ln((CAST(pc.n_ab AS DOUBLE) / tp.n_pairs) /
         |         ((CAST(ua.n_w AS DOUBLE) / tt.n_tok) *
         |          (CAST(ub.n_w AS DOUBLE) / tt.n_tok))) * 1000000.0) AS BIGINT) AS pmi_micro
         |  FROM pc JOIN uc ua ON pc.a = ua.w JOIN uc ub ON pc.b = ub.w, tt, tp
         |  WHERE pc.n_ab >= 5 ORDER BY pmi_micro DESC, pc.a, pc.b LIMIT 20),
         |ph AS (SELECT list(a || ' ' || b) AS ps FROM sel),
         |rw AS (SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 1 THEN toks ELSE
         |      list_reduce(list_transform(toks, s -> [s]),
         |        (acc, x) -> CASE WHEN list_contains(ph.ps, acc[-1] || ' ' || x[1])
         |                    THEN list_append(acc[1:-2], acc[-1] || '_' || x[1])
         |                    ELSE list_concat(acc, x) END)
         |    END AS mtoks
         |  FROM t, ph)
         |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(len(mtoks) AS BIGINT) AS n_tokens_after,
         |       md5(array_to_string(mtoks, ' ')) AS text_md5
         |FROM rw ORDER BY doc_id""".stripMargin),

    // Hybrid sparse+dense retrieval with reciprocal-rank fusion: BM25
    // keyword candidates (corpus-scale stage, TakeOrdered), candidate
    // ids broadcast into the embedding scan (map-side semi — the
    // embedding table never shuffles), cosine rerank + integer-exact
    // RRF over the bounded candidate set.
    QuerySpec("doc_hybrid_rrf", (s, dir) => {
      graft.ops.VectorSearch.hybridRrfRetrieve(
        docs(s, dir), emb(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    }, () =>
      // Hybrid RRF: the BM25 candidate stage is the shared bm25Sql
      // builder at the wider cut; cosine uses the knn_cosine_top10
      // expression verbatim; both row_numbers cast BIGINT (Spark's is
      // INT); the fused score is integer micro-units on both sides.
      s"""WITH bm AS (SELECT * FROM (${bm25Sql(50)})),
         |bmr AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS r_bm25
         |  FROM bm),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cs AS (SELECT bmr.doc_id, r_bm25,
         |    (${dotSql("e.embedding", "q.qe")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("q.qe", "q.qe")})) AS cos_sim
         |  FROM bmr JOIN embeddings e ON e.vec_id = bmr.doc_id CROSS JOIN q),
         |cr AS (SELECT doc_id, r_bm25,
         |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS r_cos
         |  FROM cs)
         |SELECT doc_id, r_bm25, r_cos,
         |       CAST(floor(1000000.0 / (60 + r_bm25)) + floor(1000000.0 / (60 + r_cos)) AS BIGINT) AS rrf_micro
         |FROM cr ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin),

    // BM25 retrieval: top-20 docs for a fixed query-term set. The
    // occurrence scan filters to the query terms before any shuffle,
    // df/length stats broadcast, TakeOrdered cuts the result; per-term
    // scores are micro-quantized so the per-doc integer sum is
    // aggregation-order-independent.
    QuerySpec("doc_bm25_top20", (s, dir) => {
      TextAnalysis.bm25TopDocs(docs(s, dir),
        terms = Seq("spark", "join", "merge", "window"))
    }, () =>
      // BM25: identical double ops in identical order, per-term micro
      // quantization, integer per-doc sum — Lucene idf variant
      Bm25OracleSql),

    // The same retrieval through the PERSISTED posting-list index
    // (build-once bucketed-by-token table, term-bucket-pruned probe) —
    // the text twin of the IVF build/probe split. Shares
    // doc_bm25_top20's oracle SQL verbatim: matching hashes prove the
    // indexed path equals the corpus-scan path.
    QuerySpec("doc_bm25_indexed", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      val stats = graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      graft.text.InvertedIndex.bm25Search(s, s"graft_post_$key", stats,
        terms = Seq("spark", "join", "merge", "window"))
    }, () =>
      // IDENTICAL SQL as doc_bm25_top20: the indexed path must produce
      // the same rows through the persisted posting lists — the matching
      // hash is the equivalence proof (decontaminate_bloom's device).
      Bm25OracleSql),

    // BATCHED BM25 — a whole query table served by ONE bucket-pruned
    // posting probe (the text-side twin of knn_hnsw_batch): three term
    // sets probe together, per-token df is computed once from the
    // union-probed occurrences, and each query's rows must equal its
    // single-query result bit-for-bit — the oracle replays every query
    // from scratch and unions them. At 100 TB this amortizes the probe
    // and df aggregation across the batch; per-query marginal cost is
    // a broadcast fan-out, not a scan.
    QuerySpec("doc_bm25_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensure(s, docs(s, dir),
        s"graft_post_$key", s"$tmp/graft_postings_$key", buckets = 8)
      graft.text.InvertedIndex.bm25SearchBatch(s, s"graft_post_$key",
        s"$tmp/graft_postings_$key", Bm25BatchQueries, topN = 10)
    }, () =>
      // Every query of the batch replayed from scratch and unioned — a
      // matching hash proves the shared-probe batch path equals N
      // independent single-query probes bit-for-bit.
      bm25BatchOracleSql(Bm25BatchQueries, topN = 10)),

    // BATCHED phrase search — N phrases served by ONE delta-aware
    // positional probe: the union of every phrase's terms bucket-prunes
    // a single postings read (materialized once, bounded by the probed
    // slice), and each phrase's adjacency intersection runs over that
    // frame. The oracle replays every phrase's token-slice definition
    // from scratch and unions them — a matching hash proves the shared
    // probe changes nothing.
    QuerySpec("doc_phrase_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.phraseSearchBatch(s, s"graft_pos_$key",
        s"$tmp/graft_positional_$key", PhraseBatchQueries)
    }, () =>
      // Per-phrase token-slice replays, unioned under their query ids.
      phraseBatchOracleSql(PhraseBatchQueries)),

    // Exact PHRASE search over a persisted positional index (IIR §2.4):
    // the i-th term's postings shift to pos−i and occurrences survive
    // the k-way (doc, start) equi-join — each term's leg is one pruned
    // bucket read, the corpus is never rescanned. Brute-force
    // token-slice oracle proves the index path equals the definition.
    QuerySpec("doc_phrase_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.phraseSearch(s, s"graft_pos_$key",
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }, () =>
      // Brute-force token-slice scan — deliberately NOT the index plan,
      // so the hash match proves the positional intersection correct.
      PhraseOracleSql),

    // Proximity search over the same positional index: exact min token
    // gap between 'vector' and 'stream' per doc — any within-k
    // operator is a post-filter on this. Per-doc cost tf_a x tf_b.
    QuerySpec("doc_proximity_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.proximitySearch(s, s"graft_pos_$key",
          "vector", "stream")
        .orderBy(col("doc_id"))
    }, () =>
      // Brute-force cross product of the two terms' positions per doc.
      ProximityOracleSql),

    // BATCHED proximity — N term pairs through ONE delta-aware
    // positional probe (the fourth retrieval-batch leg): the union of
    // every pair's terms prunes one postings read, each pair's min-gap
    // join runs over that frame. Per-pair replay oracle.
    QuerySpec("doc_proximity_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensurePositional(s, docs(s, dir),
        s"graft_pos_$key", s"$tmp/graft_positional_$key", buckets = 8)
      graft.text.InvertedIndex.proximitySearchBatch(s, s"graft_pos_$key",
        s"$tmp/graft_positional_$key", ProximityBatchQueries)
    }, () =>
      // Per-pair positions-cross-product replays under their query ids.
      proximityBatchOracleSql(ProximityBatchQueries)),

    // Substring (LIKE '%needle%') search via a persisted character-
    // trigram index (the pg_trgm device): AND-intersection of pruned
    // trigram buckets -> exact contains verification on candidates
    // only; occurrence counts by length arithmetic. The needle spans a
    // token boundary, which no token index could serve.
    // BATCHED substring search — N needles through ONE delta-aware
    // trigram probe and ONE corpus verification pass (the third leg of
    // the text-index batch family): the union of every needle's
    // trigrams prunes one postings read, each needle's
    // AND-intersection cuts candidates from that frame, and a single
    // normalized corpus join verifies every (needle, candidate) pair.
    // Per-needle replay oracle; the match-less needle contributes zero
    // rows on both engines.
    QuerySpec("doc_substring_batch", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      graft.text.InvertedIndex.substringSearchBatch(s, s"graft_tri_$key",
        s"$tmp/graft_trigram_$key", docs(s, dir), SubstringBatchQueries)
    }, () =>
      // Per-needle contains/replace-count replays under their query ids.
      substringBatchOracleSql(SubstringBatchQueries)),

    QuerySpec("doc_substring_search", (s, dir) => {
      val key = dirKey(dir)
      val tmp = System.getProperty("java.io.tmpdir")
      graft.text.InvertedIndex.ensureTrigram(s, docs(s, dir),
        s"graft_tri_$key", s"$tmp/graft_trigram_$key", buckets = 8)
      graft.text.InvertedIndex.substringSearch(s, s"graft_tri_$key",
          docs(s, dir), needle = "merge batch")
        .orderBy(col("doc_id"))
    }, () =>
      // Brute-force contains scan — deliberately NOT the index plan.
      // n_hits by the same exact length arithmetic (the diff is a
      // multiple of 11, so integer division is exact on both engines).
      SubstringOracleSql),

    // Token counting: whitespace + BPE-ish counts, length stats — a
    // narrow single-pass projection (no shuffle).
    QuerySpec("doc_token_stats", (s, dir) => {
      TextAnalysis.docStats(docs(s, dir)).orderBy(col("doc_id"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents)
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       CAST(ceil(CAST(length(regexp_replace(norm, '[^\\p{L}\\p{N}]', '', 'g')) AS DOUBLE) / 4.0)
         |            + length(regexp_replace(norm, '[\\p{L}\\p{N} ]', '', 'g')) AS BIGINT) AS n_bpe_tokens,
         |       CAST(length(norm) AS BIGINT) AS n_chars_norm,
         |       CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS mean_token_len,
         |       CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS unique_ratio
         |FROM t ORDER BY doc_id""".stripMargin),

    // Quality scoring: length/diversity/stopword heuristic filter score.
    QuerySpec("doc_quality", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        CAST(len(toks) AS DOUBLE) AS n_tok,
         |        CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS diversity,
         |        CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','on','for','with'))) AS DOUBLE)
         |          / CAST(len(toks) AS DOUBLE) AS stop
         |      FROM t)
         |SELECT doc_id,
         |       least(n_tok / 64.0, 1.0) * 0.4 + diversity * 0.4 +
         |       (CASE WHEN stop BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
         |FROM s ORDER BY doc_id""".stripMargin),

    // Language-ID heuristic: per-language marker-word hits + argmax.
    QuerySpec("doc_lang_id", (s, dir) => {
      val scoreCols = TextAnalysis.langScores(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir)
        .select(col("doc_id") +: scoreCols :+ TextAnalysis.languageId(col("text")).as("lang_id"): _*)
        .orderBy(col("doc_id"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM t)
         |SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_id
         |FROM s ORDER BY doc_id""".stripMargin),

    // PII scrubbing: the redaction pass a corpus runs before training.
    // The fixture has no organic PII, so every 7th doc gets a planted
    // email + phone suffix (identically in the oracle); the declared
    // output is the scrubbed-text md5 and the redaction count, so a
    // single missed or mangled replacement breaks the hash match.
    QuerySpec("doc_pii_scrub", (s, dir) => {
      val planted = docs(s, dir).withColumn("txt",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(PiiSuffix)))
          .otherwise(col("text")))
      planted.select(col("doc_id"),
          md5(TextAnalysis.scrubPii(col("txt"))).as("scrub_md5"),
          TextAnalysis.piiCount(col("txt")).as("n_redactions"))
        .orderBy(col("doc_id"))
    }, () =>
      // Same planted suffix and patterns — interpolated from the SAME
      // constants the operator uses (TextAnalysis.EmailPattern/
      // PhonePattern, PiiSuffix), so the pair cannot drift. Java regex and
      // RE2 agree on these constructs; 'g' matches Spark's replace-all
      // default; the phone count runs on email-scrubbed text like the
      // operator.
      s"""WITH d AS (SELECT doc_id,
         |             CASE WHEN doc_id % 7 = 0
         |                  THEN text || '$PiiSuffix'
         |                  ELSE text END AS txt
         |           FROM documents),
         |e AS (SELECT doc_id, txt,
         |             regexp_replace(txt, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g') AS txt_e
         |      FROM d)
         |SELECT doc_id,
         |       md5(regexp_replace(txt_e, '${TextAnalysis.PhonePattern}', '<PHONE>', 'g')) AS scrub_md5,
         |       CAST(len(regexp_extract_all(txt, '${TextAnalysis.EmailPattern}'))
         |            + len(regexp_extract_all(txt_e, '${TextAnalysis.PhonePattern}')) AS BIGINT) AS n_redactions
         |FROM e ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals: duplicate-n-gram and top-n-gram
    // occupancy fractions — the boilerplate/degenerate-loop filters that
    // complement the composite quality score. Per-row, no shuffle.
    QuerySpec("doc_repetition", (s, dir) => {
      // fused single-pass kernel (RepetitionExpr); the declarative
      // rawNgrams/dupNgramFraction/topNgramFraction cascade stays as
      // the bit-compared reference (TextAnalysisSpec)
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.VectorExpressions.repetition(col("toks")).as("r"))
        .select(col("doc_id"),
          col("r.dup_2gram_frac").as("dup_2gram_frac"),
          col("r.top_2gram_frac").as("top_2gram_frac"),
          col("r.dup_3gram_frac").as("dup_3gram_frac"))
        .orderBy(col("doc_id"))
    }, () =>
      // Raw (non-distinct) n-gram lists rebuilt with list comprehensions;
      // every fraction is a single integer division, so float values match
      // bit-for-bit.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(toks) < 2 THEN [] ELSE [array_to_string(toks[i:i+1], ' ') FOR i IN range(1, len(toks))] END AS g2,
         |        CASE WHEN len(toks) < 3 THEN [] ELSE [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)] END AS g3
         |      FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE CAST(list_max([len(list_filter(g2, y -> y = x)) FOR x IN list_distinct(g2)]) AS DOUBLE)
         |            / CAST(len(g2) AS DOUBLE) END AS top_2gram_frac,
         |  CASE WHEN len(g3) = 0 THEN 0.0
         |       ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac
         |FROM g ORDER BY doc_id""".stripMargin),

    // Gopher-rule quality gate (Rae et al. §A1.1): the canonical
    // rule-based pretraining filter — word-count band, mean word
    // length, symbol ratio, bullet/ellipsis line fractions, alphabetic
    // word fraction, stopword floor. Narrow single-pass projection;
    // stats ship with the verdict so re-thresholding needs no rescan.
    QuerySpec("doc_gopher_filter", (s, dir) => {
      TextAnalysis.gopherStats(docs(s, dir), minWords = 10L, maxWords = 100000L)
        .orderBy(col("doc_id"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks, $NormSql AS norm,
         |                  string_split(coalesce(text, ''), chr(10)) AS lines
         |           FROM documents),
         |s AS (SELECT doc_id,
         |        CAST(len(toks) AS BIGINT) AS n_words,
         |        CASE WHEN len(toks) = 0 THEN NULL
         |             ELSE CAST(floor(CAST(list_sum([len(x) FOR x IN toks]) AS DOUBLE) * 1000000.0
         |                   / CAST(len(toks) AS DOUBLE)) AS BIGINT) END AS mean_word_len_q,
         |        CAST(len(norm) - len(replace(norm, '#', '')) AS BIGINT)
         |          + CAST((len(norm) - len(replace(norm, '...', ''))) / 3 AS BIGINT) AS n_sym,
         |        CAST(len(lines) AS BIGINT) AS n_lines,
         |        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
         |        CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ell,
         |        CAST(len(list_filter(toks, x -> regexp_matches(x, '\\p{L}'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                             w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
         |      FROM t),
         |g AS (SELECT doc_id, n_words, mean_word_len_q,
         |        CASE WHEN n_words = 0 THEN NULL
         |             ELSE CAST(floor(CAST(n_sym AS DOUBLE) * 1000000.0 / CAST(n_words AS DOUBLE)) AS BIGINT) END AS symbol_ratio_q,
         |        n_lines,
         |        CAST(floor(CAST(n_bullet AS DOUBLE) * 1000000.0 / CAST(n_lines AS DOUBLE)) AS BIGINT) AS bullet_frac_q,
         |        CAST(floor(CAST(n_ell AS DOUBLE) * 1000000.0 / CAST(n_lines AS DOUBLE)) AS BIGINT) AS ellipsis_frac_q,
         |        CASE WHEN n_words = 0 THEN NULL
         |             ELSE CAST(floor(CAST(n_alpha AS DOUBLE) * 1000000.0 / CAST(n_words AS DOUBLE)) AS BIGINT) END AS alpha_frac_q,
         |        stop_hits
         |      FROM s)
         |SELECT *, (n_words BETWEEN 10 AND 100000 AND mean_word_len_q BETWEEN 3000000 AND 10000000
         |           AND symbol_ratio_q <= 100000 AND bullet_frac_q < 900000
         |           AND ellipsis_frac_q < 300000 AND alpha_frac_q >= 800000
         |           AND stop_hits >= 2) AS passes
         |FROM g ORDER BY doc_id""".stripMargin),

    // C4 cleaning rules (Raffel et al. JMLR'20 §2.2): line-level keep
    // rules (terminal punctuation, ≥3 words, no "javascript") + page
    // verdict (≥5 surviving sentences, no "lorem ipsum"/"{"), emitting
    // the cleaned text itself so the oracle hash-checks the rewrite,
    // not just the counters. The fixture corpus is punctuation-free
    // single-line word soup (every rule would trivially fail), so the
    // query first derives a lined corpus deterministically: sentence
    // breaks after each 'spark' token, a page-rejecting '{' line on
    // every 17th doc, a 'lorem ipsum' line on every 23rd — the SAME
    // derivation runs in the oracle SQL, so the rules are exercised on
    // both pass and fail paths. Map-only HOF scan — no UDF, no shuffle.
    QuerySpec("doc_c4_filter", (s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "spark", "spark.\n"),
          when(col("doc_id") % 17 === 0, lit("\ncurly brace line {")).otherwise(lit("")),
          when(col("doc_id") % 23 === 0, lit("\nthis page has lorem ipsum filler"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.c4Filter(lined).orderBy(col("doc_id"))
    }, () =>
      // The C4 rules replayed in SQL: same line predicates (terminal
      // punctuation after trim, ≥3 \S+ words, no "javascript"), same
      // cleaned-text rejoin, same page verdict — the hash match covers
      // the rewritten text byte-for-byte.
      """WITH d AS (SELECT doc_id,
        |        replace(text, 'spark', 'spark.' || chr(10))
        |        || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'curly brace line {' ELSE '' END
        |        || CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'this page has lorem ipsum filler' ELSE '' END
        |          AS text
        |      FROM documents),
        |st AS (SELECT doc_id, text,
        |        string_split(coalesce(text, ''), chr(10)) AS lines,
        |        list_filter(string_split(coalesce(text, ''), chr(10)), l ->
        |          regexp_matches(trim(l), '[.!?"]$')
        |          AND len(regexp_extract_all(l, '\S+')) >= 3
        |          AND NOT contains(lower(l), 'javascript')) AS kept
        |      FROM d),
        |c AS (SELECT doc_id, text,
        |        CAST(len(lines) AS BIGINT) AS n_lines,
        |        CAST(len(kept) AS BIGINT) AS n_kept,
        |        coalesce(array_to_string(kept, chr(10)), '') AS clean_text
        |      FROM st),
        |s AS (SELECT *,
        |        CAST(len(regexp_extract_all(clean_text, '[.!?]')) AS BIGINT) AS n_sentences
        |      FROM c)
        |SELECT doc_id, n_lines, n_kept, n_sentences,
        |       (n_sentences >= 5 AND NOT contains(lower(text), 'lorem ipsum')
        |        AND NOT contains(text, '{')) AS passes_c4,
        |       clean_text
        |FROM s ORDER BY doc_id""".stripMargin),

    // CCNet perplexity bucketing (Wenzek et al. §4.3): per-source
    // head/middle/tail tiles by bigram-LM score. The Spark side computes
    // NTILE via the counting-sort decomposition (no per-source global
    // sort — the 100 TB shape); the oracle states plain NTILE.
    QuerySpec("doc_ppl_buckets", (s, dir) => {
      TextAnalysis.perplexityBuckets(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    }, () =>
      // Plain NTILE per source over the bigram-LM score — the Spark side
      // computes the same assignment via the counting-sort decomposition
      // (no per-source global sort); matching hashes prove equivalence.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
         |        FROM t, unnest(range(1, len(toks))) AS u(i)),
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM uni),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occ GROUP BY 1),
         |sc AS (SELECT o.doc_id,
         |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / CAST(uc + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |       FROM occ o JOIN bi USING (gram) JOIN uni USING (w1) CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |               CAST(sum(lp) AS BIGINT) AS lm_micro
         |        FROM sc GROUP BY 1),
         |lm AS (SELECT d.doc_id, d.source,
         |              coalesce(n_bigrams, 0) AS n_bigrams, coalesce(lm_micro, 0) AS lm_micro
         |       FROM documents d LEFT JOIN agg USING (doc_id)),
         |qd AS (SELECT *, CASE WHEN n_bigrams = 0 THEN NULL
         |         ELSE CAST(floor(CAST(lm_micro AS DOUBLE) * 1000000.0
         |                         / CAST(n_bigrams AS DOUBLE)) AS BIGINT) END AS q
         |       FROM lm),
         |b AS (SELECT doc_id, source, n_bigrams, lm_micro,
         |        CAST(ntile(3) OVER (PARTITION BY source ORDER BY q DESC NULLS LAST, doc_id) AS INTEGER) AS bucket
         |      FROM qd)
         |SELECT doc_id, source, n_bigrams, lm_micro, bucket,
         |       CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
         |            ELSE 'middle' END AS tier
         |FROM b ORDER BY doc_id""".stripMargin),

    // Hashing-trick document embeddings: md5-bucketed token counts,
    // ±1-signed per (bucket, dim) by a runtime Knuth hash bit — a
    // model-free dense vector per doc in exact integer arithmetic,
    // feeding the ANN/dedup family. One explode + one doc-keyed agg.
    QuerySpec("doc_embed_hash", (s, dir) => {
      TextAnalysis.hashedEmbedding(docs(s, dir), outDim = 16)
        .orderBy(col("doc_id"))
    }, () =>
      // Replays the feature-hashing embedding: the same md5 bucket as the
      // classifier oracle, the same Knuth-hash sign bit per (bucket, dim),
      // all-integer sums — the projection matrix reproduces from the data.
      {
      val bucketSql =
        "(list_sum([(CAST(strpos('0123456789abcdef', md5(tok)[i]) AS BIGINT) - 1)" +
          " * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 1048576)"
      val dimCols = (0 until 16).map { i =>
        f"CAST(sum(cnt * (CASE WHEN (((bucket * 16 + $i) * 2654435761) >> 16) & 1 = 1" +
          f" THEN 1 ELSE -1 END)) AS BIGINT) AS p$i%02d"
      }.mkString(",\n|        ")
      val coalesced = (0 until 16).map(i => f"coalesce(p$i%02d, 0) AS p$i%02d").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, $bucketSql AS bucket, CAST(count(*) AS BIGINT) AS cnt
         |        FROM t, unnest(toks) AS u(tok) GROUP BY 1, 2),
         |p AS (SELECT doc_id,
         |        $dimCols
         |      FROM occ GROUP BY 1)
         |SELECT d.doc_id, $coalesced
         |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id""".stripMargin
    }),

    // Misra-Gries heavy hitters over the token stream: the mergeable
    // O(capacity) frequent-items summary that finds hot keys without a
    // full groupBy. The summary's low-frequency survivors depend on
    // merge order, so the declared output is the deterministic
    // contract: exact row/hitter counts plus the guarantee flag (every
    // token with frequency > n/(capacity+1) is in the summary).
    QuerySpec("doc_token_hitters", (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      graft.ops.HeavyHitters.heavyHitterCheck(toks, "tok", capacity = 30)
    }, () =>
      // n_rows and n_hitters are exact; the guarantee flag follows the
      // sketch convention (holds whenever the MG implementation is right)
      s"""WITH t AS (SELECT unnest($ToksSql) AS tok FROM documents),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM t),
         |h AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1)
         |SELECT n.n_rows,
         |       CAST((SELECT count(*) FROM h WHERE c > (SELECT n_rows // 31 FROM n)) AS BIGINT) AS n_hitters,
         |       CAST(1 AS BIGINT) AS all_found
         |FROM n""".stripMargin),

    // Document fingerprinting: md5 content hash of normalized text.
    QuerySpec("doc_fingerprint", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    }, () =>       s"SELECT doc_id, md5($NormSql) AS fp_md5 FROM documents ORDER BY doc_id"),

    // TF-IDF: top-3 terms per doc by quantized smoothed tf·idf.
    QuerySpec("doc_tfidf_top3", (s, dir) => {
      TextAnalysis.tfIdfTopTerms(docs(s, dir), topN = 3)
        .orderBy(col("doc_id"), col("rank"))
    }, () =>
      s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |j AS (SELECT tf.doc_id, tf.term, tf.tf, dfr.df_t,
         |        CAST(floor((CAST(tf.tf AS DOUBLE) *
         |              (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df_t AS DOUBLE) + 1.0)) + 1.0))
         |             * 1000000.0) AS BIGINT) AS tfidf_q
         |      FROM tf JOIN dfr USING (term) CROSS JOIN nd),
         |r AS (SELECT doc_id, term, tf, df_t, tfidf_q,
         |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_q DESC, term ASC) AS INTEGER) AS rank
         |      FROM j)
         |SELECT doc_id, term, tf, df_t, tfidf_q, rank FROM r WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin),

    // Exact dedup summary: hash-groupBy over the md5 fingerprint.
    QuerySpec("doc_exact_dups", (s, dir) => {
      val g = docs(s, dir)
        .select(TextAnalysis.fingerprintMd5(col("text")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
      g.agg(
        sum(col("c")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"))
    }, () =>
      s"""WITH g AS (SELECT md5($NormSql) AS h, count(*) AS c FROM documents GROUP BY 1)
         |SELECT CAST(sum(c) AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_distinct,
         |       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups FROM g""".stripMargin),

    // Exact n-gram Jaccard near-dup pairs (shared-shingle candidate
    // join; shingles in >500 docs are dropped — the hot-key skew guard
    // that keeps the candidate join bounded at scale, mirrored in the
    // oracle SQL).
    QuerySpec("doc_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, minJaccard = 0.3,
          maxShingleDf = 500L)
        .orderBy(col("id_a"), col("id_b"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |sh0 AS (SELECT doc_id,
         |              unnest(list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)])) AS shingle
         |       FROM t WHERE len(toks) >= 3),
         |rare AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 500),
         |sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN rare USING (shingle)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_inter
         |          FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = id_a
         |JOIN sz sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin),

    // ExactSubstr-style duplicated-span fractions (Lee et al. ACL'22):
    // tokens covered by any 8-gram appearing verbatim in another doc,
    // overlapping spans merged before counting — duplication at every
    // alignment, where dedup_chunks only sees fixed chunk boundaries.
    // Position explode → bucketed gram agg → equi-join → per-doc
    // islands window; nothing all-pairs. 47/500 fixture docs carry
    // real cross-doc spans at sf0.01.
    QuerySpec("doc_dup_spans", (s, dir) => {
      Dedup.duplicatedSpans(docs(s, dir), n = 8).orderBy(col("doc_id"))
    }, () =>
      // Same span algebra in SQL: every 8-gram position, grams in ≥2
      // docs, per-doc interval union via the identical islands window.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(toks[i+1:i+8], ' ') AS gram
         |      FROM base, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               THEN 1 ELSE 0 END AS ni
         |        FROM p),
         |isl2 AS (SELECT doc_id, pos,
         |           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |         FROM isl),
         |sp AS (SELECT doc_id, island,
         |         CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_len
         |       FROM isl2 GROUP BY 1, 2),
         |cov AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_tokens
         |        FROM sp GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |       coalesce(c.dup_tokens, 0) AS dup_tokens,
         |       CAST(floor(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) * 1000000.0
         |                  / CAST(b.n_tokens AS DOUBLE)) AS BIGINT) AS dup_frac_q,
         |       (CAST(floor(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) * 1000000.0
         |                   / CAST(b.n_tokens AS DOUBLE)) AS BIGINT) >= 500000) AS flagged
         |FROM base b LEFT JOIN cov c USING (doc_id) ORDER BY doc_id""".stripMargin),

    // The removal half of ExactSubstr (Lee et al. cut the spans, not
    // just count them): every doc rewritten with its cross-document
    // duplicated 8-gram spans dropped — islands join back per doc and
    // drive an indexed HOF filter over the token array (narrow map, no
    // UDF). The md5 hash-match proves the rewrite byte-for-byte.
    QuerySpec("doc_dup_scrub", (s, dir) => {
      Dedup.scrubDuplicatedSpans(docs(s, dir), n = 8)
        .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, () =>
      // Same islands, then the indexed-lambda rewrite (DuckDB list_filter
      // indexes are 1-based — hence i-1; Spark's are 0-based).
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(toks[i+1:i+8], ' ') AS gram
         |      FROM base, unnest(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
         |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
         |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         |               OR pos > max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               THEN 1 ELSE 0 END AS ni
         |        FROM p),
         |isl2 AS (SELECT doc_id, pos,
         |           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |         FROM isl),
         |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
         |       FROM isl2 GROUP BY 1, 2),
         |spl AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
         |        FROM sp GROUP BY 1),
         |j AS (SELECT b.doc_id, b.n_tokens, b.toks,
         |        coalesce(spl.spans, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS spans
         |      FROM base b LEFT JOIN spl USING (doc_id)),
         |k AS (SELECT doc_id, n_tokens,
         |        list_filter(toks, (x, i) ->
         |          len(list_filter(spans, sp -> i-1 >= sp.s AND i-1 <= sp.e)) = 0) AS kept
         |      FROM j)
         |SELECT doc_id, n_tokens, CAST(len(kept) AS BIGINT) AS kept_tokens,
         |       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
         |FROM k ORDER BY doc_id""".stripMargin),

    // TAKEDOWN (GDPR / opt-out / contaminated-source) leg for the BM25
    // posting store — the reference treats delete as first-class (O5,
    // reference src/vectordb.cpp:74-80); this extends it to the
    // incremental text indexes. A delete batch is a tag-keyed
    // tombstone (batch-sized tokenize + two tiny writes — never an
    // index scan) recording the legs it covers; the delta-aware probe
    // masks each leg with only its covering tombstones, so the doc
    // re-appended UNDER A LATER TAG revives — the delete/append
    // ordering a global mask would get wrong. The oracle is a
    // from-scratch BM25 over documents minus the net-deleted docs, so
    // a matching hash proves deletion, revival ordering, and the
    // nDocs/sumDl stat decrements all exact.
    QuerySpec("doc_bm25_delete", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_bm25del_$key"
      val table = s"graft_bm25del_$key"
      graft.text.InvertedIndex.ensure(s, corpus, table, idxDir, buckets = 8)
      // replay determinism: a re-run must not see the previous run's
      // re-append delta among the tombstone's covered legs
      graft.text.InvertedIndex.dropMutations(idxDir)
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(2L, 7L, 12L)), tag = "del")
      graft.text.InvertedIndex.appendDelta(s, idxDir,
        corpus.filter(col("doc_id") === 7L), tag = "re")
      graft.text.InvertedIndex.bm25SearchDeltaAware(s, table, idxDir,
        terms = Seq("spark", "join", "merge", "window"))
    }, () =>
      // From-scratch BM25 over documents minus the NET-deleted docs
      // (2 and 12 stay deleted; 7 was re-appended under a later tag and
      // must be revived with exact stats).
      bm25SqlOver(
      "(SELECT doc_id, text FROM documents WHERE doc_id NOT IN (2, 12))", 20)),

    // Takedown leg for the POSITIONAL index: the two lowest-id docs
    // containing the probe phrase are deleted, the second re-appended
    // under a later tag (revival), and the delta-aware phrase probe
    // must reproduce a from-scratch token-slice scan over documents
    // minus the net-deleted doc.
    QuerySpec("doc_phrase_delete", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_posdel_$key"
      val table = s"graft_posdel_$key"
      graft.text.InvertedIndex.ensurePositional(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      // bounded: exactly two ids come back to the driver
      val ids = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("hash join"))
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(ids: _*)), tag = "del")
      graft.text.InvertedIndex.appendPositionalDelta(s, idxDir,
        corpus.filter(col("doc_id") === ids.last), tag = "re")
      graft.text.InvertedIndex.phraseSearchDeltaAware(s, table, idxDir,
          Seq("hash", "join"))
        .orderBy(col("doc_id"))
    }, () =>
      // From-scratch phrase scan over documents minus the net-deleted
      // doc (the LOWEST-id 'hash join' doc; the second was revived).
      phraseSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT doc_id FROM documents
         |   WHERE contains($NormSql, 'hash join')
         |   ORDER BY doc_id LIMIT 1))""".stripMargin)),

    // Takedown leg for the TRIGRAM (substring) index — same shape; the
    // exact-verify stage runs over the post-delete corpus, so both the
    // candidate masking and the verification see the deletion.
    QuerySpec("doc_substring_delete", (s, dir) => {
      val corpus = docs(s, dir).select(col("doc_id"), col("text"))
      val key = dirKey(dir)
      val idxDir = s"${System.getProperty("java.io.tmpdir")}/graft_tridel_$key"
      val table = s"graft_tridel_$key"
      graft.text.InvertedIndex.ensureTrigram(s, corpus, table, idxDir, buckets = 8)
      graft.text.InvertedIndex.dropMutations(idxDir) // replay determinism
      val ids = corpus
        .filter(graft.text.TextAnalysis.normalizeText(col("text")).contains("merge batch"))
        .orderBy(col("doc_id")).limit(2)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      graft.text.InvertedIndex.deleteDocs(s, idxDir,
        corpus.filter(col("doc_id").isin(ids: _*)), tag = "del")
      graft.text.InvertedIndex.appendTrigramDelta(s, idxDir,
        corpus.filter(col("doc_id") === ids.last), tag = "re")
      graft.text.InvertedIndex.substringSearchDeltaAware(s, table, idxDir,
          corpus.filter(col("doc_id") =!= ids.head), needle = "merge batch")
        .orderBy(col("doc_id"))
    }, () =>
      // From-scratch contains scan over documents minus the net-deleted
      // doc (the LOWEST-id 'merge batch' doc; the second was revived).
      substringSqlOver(
      s"""(SELECT doc_id, text FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT doc_id FROM documents
         |   WHERE contains($NormSql, 'merge batch')
         |   ORDER BY doc_id LIMIT 1))""".stripMargin)),

    // Same counting-sort quantile operator over another table: document
    // length distribution per source — the corpus-report form of the
    // stat (sequence-length planning for packing/truncation budgets).
    QuerySpec("doc_len_quantiles", (s, dir) => {
      graft.ops.EventAnalytics.exactQuantiles(
        docs(s, dir), "source", col("n_chars"),
        Seq(0.5 -> "p50_chars", 0.9 -> "p90_chars", 0.99 -> "p99_chars"))
    }, () =>
      """WITH h AS (SELECT source, n_chars AS vm, count(*) AS c FROM documents GROUP BY 1, 2),
        |cc AS (SELECT source, vm,
        |         sum(c) OVER (PARTITION BY source ORDER BY vm
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(c) OVER (PARTITION BY source) AS n
        |       FROM h)
        |SELECT source,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.5) THEN vm END) AS BIGINT) AS p50_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.9) THEN vm END) AS BIGINT) AS p90_chars,
        |       CAST(min(CASE WHEN cum >= ceil(n * 0.99) THEN vm END) AS BIGINT) AS p99_chars
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin),

    // Exact dedup keep-lowest-representative: summary of what survives
    // (the groups view is doc_exact_dups; this pins the kept-row side).
    QuerySpec("doc_dedup_keep", (s, dir) => {
      val kept = graft.dedup.Dedup.dedupExact(docs(s, dir))
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("id_sum"),
        sum(length(col("text")).cast("long")).as("chars_kept"))
    }, () =>
      s"""WITH k AS (SELECT doc_id, text,
         |             row_number() OVER (PARTITION BY md5($NormSql) ORDER BY doc_id ASC) AS rn
         |           FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(length(text)) AS BIGINT) AS chars_kept
         |FROM k WHERE rn = 1""".stripMargin),

    // Deterministic stratified sampling: downsample English to 20%, keep
    // every other stratum whole (the classic rebalancing device).
    // Inclusion is a pure function of md5(doc_id ‖ salt) — replayable
    // under retries and recomputable by the oracle, unlike rand().
    QuerySpec("doc_sample_stratified", (s, dir) => {
      val d = docs(s, dir).withColumn("lang_id", TextAnalysis.languageId(col("text")))
      graft.ops.Sampling.stratifiedBernoulli(d, col("lang_id"),
          rates = Map("en" -> 0.2), defaultRate = 1.0, salt = "s1")
        .select(col("doc_id"), col("lang_id"))
        .orderBy(col("doc_id"))
    }, () =>
      // Recomputes the 32-bit md5 deviate (first 8 hex chars, digit-parsed
      // — same device as the simhash signature oracle) and the lang-id
      // CASE, then applies the per-stratum per-myriad thresholds.
      s"""WITH t AS (SELECT doc_id, $NormSql AS norm, $ToksSql AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS BIGINT) AS score_en,
         |  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','con'))) AS BIGINT) AS score_es,
         |  CAST(len(list_filter(toks, x -> x IN ('der','die','und','ist','mit'))) AS BIGINT) AS score_de,
         |  CAST(len(list_filter(toks, x -> x IN ('le','la','et','est','avec'))) AS BIGINT) AS score_fr,
         |  CAST(length(norm) - length(regexp_replace(norm, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS BIGINT) AS score_zh
         |  FROM t),
         |l AS (SELECT doc_id,
         |  CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) <= 0 THEN 'und'
         |       WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
         |       WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
         |       WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
         |       WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
         |       ELSE 'zh' END AS lang_id
         |  FROM s),
         |h AS (SELECT doc_id, lang_id,
         |  list_sum([(CAST(strpos('0123456789abcdef', md5(CAST(doc_id AS VARCHAR) || 's1')[i]) AS BIGINT) - 1)
         |            * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)]) % 10000 AS bucket
         |  FROM l)
         |SELECT doc_id, lang_id FROM h
         |WHERE bucket < (CASE WHEN lang_id = 'en' THEN 2000 ELSE 10000 END)
         |ORDER BY doc_id""".stripMargin),

    // Corpus-trained bigram LM score (perplexity filtering): add-one-
    // smoothed transition probabilities from the corpus's own unigram/
    // bigram counts, each ln quantized to micro-units before summing so
    // the aggregate is an exact integer any engine reproduces.
    QuerySpec("doc_lm_score", (s, dir) => {
      // the fixture vocabulary is tiny — take the broadcast-unigram path
      // (the open-vocabulary shuffle form is spec-pinned to match it)
      TextAnalysis.bigramLmScores(docs(s, dir), broadcastUnigrams = true)
        .orderBy(col("doc_id"))
    }, () =>
      // Rebuilds the bigram LM from scratch: unigram/bigram counts over
      // the same token stream, identical smoothing arithmetic, identical
      // per-term ln micro-quantization.
      s"""WITH t AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram, toks[i] AS w1
         |        FROM t, unnest(range(1, len(toks))) AS u(i)),
         |uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS uc
         |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM uni),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occ GROUP BY 1),
         |sc AS (SELECT o.doc_id,
         |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / CAST(uc + v_size AS DOUBLE)) * 1e6) AS BIGINT) AS lp
         |       FROM occ o JOIN bi USING (gram) JOIN uni USING (w1) CROSS JOIN v),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |               CAST(sum(lp) AS BIGINT) AS lm_micro
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(lm_micro, 0) AS lm_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Interpolated KNESER-NEY bigram scoring (Chen & Goodman '98, the
    // KenLM smoothing family) — cross-corpus: model statistics (bigram
    // counts, context totals, continuation-type counts) come from the
    // English slice, every document scores under them. Per-gram
    // log-probs quantize to micro-nats before the per-doc integer sum;
    // the oracle retrains all four model aggregates in SQL and replays
    // the same float64 expression tree, D = 0.75 literal included.
    QuerySpec("doc_kn_score", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knBigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }, () =>
      // RETRAINS the interpolated Kneser-Ney model in SQL: the four model
      // aggregates (bigram counts, context totals c(w1.) with
      // continuation fan-out N1+(w1.), backward types N1+(.w2), and the
      // (N1+(..) + V) continuation floor) over the lang='en' slice, then
      // the SAME float64 expression tree per scored gram — D = 0.75
      // literal, identical division/multiplication shape — quantized to
      // micro-nats before the per-doc integer sums.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |occS AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         GROUP BY 1, 2, 3, 4),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(kn_micro, 0) AS kn_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // SPAN-level KN scoring — quality LOCALIZATION: sliding 32-token
    // windows every 16 score under the same cross-corpus KN model, so
    // boilerplate runs and encoding garbage surface as low-scoring
    // spans inside otherwise-good documents (the CCNet paragraph idea
    // on token windows). One row per (doc, window).
    QuerySpec("doc_kn_spans", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScores(d, d.filter(col("lang") === "en"),
          windowTokens = 32, stride = 16)
        .orderBy(col("doc_id"), col("win_idx"))
    }, () =>
      // The doc_kn_score model CTEs with the occurrence side keyed by
      // (doc, window): windows rebuilt with the same stride/len
      // arithmetic, grams from the window slices, same expression tree.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |wins AS (SELECT doc_id, CAST(u.k AS INT) AS win_idx,
         |                list_slice(toks, CAST(u.k * 16 + 1 AS INT),
         |                           CAST(u.k * 16 + 32 AS INT)) AS wt
         |         FROM t, unnest(range(0, (len(toks) - 1) // 16 + 1)) AS u(k)),
         |occS AS (SELECT doc_id, win_idx, wt[i] || ' ' || wt[i+1] AS gram,
         |                wt[i] AS w1, wt[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM wins, unnest(range(1, len(wt))) AS u(i)
         |         GROUP BY 1, 2, 3, 4, 5),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.win_idx, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, win_idx, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1, 2)
         |SELECT w.doc_id, w.win_idx, coalesce(n_bigrams, 0) AS n_bigrams,
         |       coalesce(kn_micro, 0) AS kn_micro
         |FROM wins w LEFT JOIN agg USING (doc_id, win_idx)
         |ORDER BY doc_id, win_idx""".stripMargin),

    // SPAN-quality SCRUB — the action the span scores exist for: drop
    // non-overlapping 32-token windows whose per-bigram KN mean falls
    // >1.5 nats below the DOC's own mean (per-doc relative cut — a
    // uniformly-bad doc is left for the doc gate, not emptied here),
    // and reassemble the survivors. The verdict is exact integer
    // cross-multiplication, never a float divide.
    QuerySpec("doc_kn_scrub", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knSpanScrub(d, d.filter(col("lang") === "en"),
          windowTokens = 32, marginMicro = 1500000L)
        .orderBy(col("doc_id"))
    }, () =>
      // The span machinery at stride = window = 32 plus the keep rule
      // (exact BIGINT cross-multiplication) and the ordered-window
      // reassembly; spans MATERIALIZED so the model CTEs evaluate once.
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |wins AS (SELECT doc_id, CAST(u.k AS INT) AS win_idx,
         |                list_slice(toks, CAST(u.k * 32 + 1 AS INT),
         |                           CAST(u.k * 32 + 32 AS INT)) AS wt
         |         FROM t, unnest(range(0, (len(toks) - 1) // 32 + 1)) AS u(k)),
         |occS AS (SELECT doc_id, win_idx, wt[i] || ' ' || wt[i+1] AS gram,
         |                wt[i] AS w1, wt[i+1] AS w2,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM wins, unnest(range(1, len(wt))) AS u(i)
         |         GROUP BY 1, 2, 3, 4, 5),
         |occT AS (SELECT toks[i] || ' ' || toks[i+1] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |bi AS (SELECT gram, CAST(count(*) AS BIGINT) AS bc FROM occT GROUP BY 1),
         |cxt AS (SELECT w1, CAST(count(*) AS BIGINT) AS cw1,
         |               CAST(count(DISTINCT w2) AS BIGINT) AS nf
         |        FROM occT GROUP BY 1),
         |nbw AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS nb
         |        FROM occT GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT gram) AS BIGINT) FROM occT) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.win_idx, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN cxt.cw1 IS NULL
         |             THEN CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)
         |             ELSE greatest(CAST(coalesce(bi.bc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(cxt.cw1 AS DOUBLE)
         |                  + ((0.75 * CAST(cxt.nf AS DOUBLE)) / CAST(cxt.cw1 AS DOUBLE))
         |                    * (CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE))
         |           END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN bi USING (gram) LEFT JOIN cxt USING (w1)
         |            LEFT JOIN nbw USING (w2) CROSS JOIN consts),
         |agg AS (SELECT doc_id, win_idx, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn_micro
         |        FROM sc GROUP BY 1, 2),
         |spans AS MATERIALIZED (
         |  SELECT w.doc_id, w.win_idx, w.wt,
         |         coalesce(n_bigrams, 0) AS n_bigrams,
         |         coalesce(kn_micro, 0) AS kn_micro
         |  FROM wins w LEFT JOIN agg USING (doc_id, win_idx)),
         |tot AS (SELECT doc_id, CAST(sum(n_bigrams) AS BIGINT) AS sum_n,
         |               CAST(sum(kn_micro) AS BIGINT) AS sum_kn
         |        FROM spans GROUP BY 1),
         |k AS (SELECT s.doc_id, s.win_idx, s.wt,
         |             (s.n_bigrams = 0 OR
         |              s.kn_micro * t2.sum_n >=
         |                (t2.sum_kn - 1500000 * t2.sum_n) * s.n_bigrams) AS keep
         |      FROM spans s JOIN tot t2 USING (doc_id)),
         |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         |             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |             array_to_string(
         |               flatten(list(wt ORDER BY win_idx) FILTER (WHERE keep)),
         |               ' ') AS text_scrubbed
         |      FROM k GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_windows, 0) AS n_windows,
         |       coalesce(n_kept, 0) AS n_kept,
         |       coalesce(text_scrubbed, '') AS text_scrubbed
         |FROM documents d LEFT JOIN o USING (doc_id) ORDER BY doc_id""".stripMargin),

    // TRIGRAM interpolated Kneser-Ney — the full order-N recursion of
    // the KenLM family: raw counts at the top, continuation TYPE
    // counts at the middle level, the add-one-floored continuation
    // distribution at the bottom, with the proper two-stage backoff
    // cascade for unseen contexts. Six model aggregates off the
    // English slice; the oracle retrains all six and replays the
    // nested float64 CASE tree.
    QuerySpec("doc_kn3_score", (s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.knTrigramScores(d, d.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    }, () =>
      // RETRAINS the trigram KN model in SQL — six aggregates (raw
      // trigram counts + (w1w2) context totals, the three type-count
      // tables off the DISTINCT trigram set, the bigram continuation
      // bottom) and the same nested CASE cascade, D = 0.75 literal,
      // identical division/multiplication shape at every level.
      {
      val pcont =
        "CAST(coalesce(nbw.nb, 0) + 1 AS DOUBLE) / CAST(consts.cont_den AS DOUBLE)"
      val p2 =
        s"""CASE WHEN midC.n2ctx IS NULL THEN $pcont
           |  ELSE greatest(CAST(coalesce(midT.nmid, 0) AS DOUBLE) - 0.75, 0.0) / CAST(midC.n2ctx AS DOUBLE)
           |       + ((0.75 * CAST(midC.nfmid AS DOUBLE)) / CAST(midC.n2ctx AS DOUBLE))
           |         * ($pcont) END""".stripMargin
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |occS AS (SELECT doc_id,
         |                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
         |                toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
         |                toks[i] || ' ' || toks[i+1] AS g12,
         |                toks[i+1] || ' ' || toks[i+2] AS g23,
         |                CAST(count(*) AS BIGINT) AS cnt
         |         FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
         |         GROUP BY 1, 2, 3, 4, 5, 6, 7),
         |occT AS (SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3,
         |                toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram,
         |                toks[i] || ' ' || toks[i+1] AS g12,
         |                toks[i+1] || ' ' || toks[i+2] AS g23
         |         FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
         |         WHERE lang = 'en'),
         |tri AS (SELECT gram, CAST(count(*) AS BIGINT) AS tc FROM occT GROUP BY 1),
         |ctx2 AS (SELECT g12, CAST(count(*) AS BIGINT) AS c12,
         |                CAST(count(DISTINCT w3) AS BIGINT) AS nf12
         |         FROM occT GROUP BY 1),
         |ty3 AS (SELECT DISTINCT w1, w2, w3, g23 FROM occT),
         |midT AS (SELECT g23, CAST(count(DISTINCT w1) AS BIGINT) AS nmid
         |         FROM ty3 GROUP BY 1),
         |midC AS (SELECT w2, CAST(count(*) AS BIGINT) AS n2ctx,
         |                CAST(count(DISTINCT w3) AS BIGINT) AS nfmid
         |         FROM ty3 GROUP BY 1),
         |occ2 AS (SELECT toks[i] || ' ' || toks[i+1] AS g2, toks[i+1] AS b2
         |         FROM t, unnest(range(1, len(toks))) AS u(i)
         |         WHERE lang = 'en'),
         |nbw AS (SELECT b2 AS w3, CAST(count(*) AS BIGINT) AS nb
         |        FROM (SELECT DISTINCT g2, b2 FROM occ2) GROUP BY 1),
         |consts AS (SELECT greatest(
         |    (SELECT CAST(count(DISTINCT g2) AS BIGINT) FROM occ2) +
         |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
         |     FROM (SELECT unnest(toks) AS w FROM t WHERE lang = 'en')), 1) AS cont_den),
         |sc AS (SELECT o.doc_id, o.cnt,
         |         CAST(floor(ln(
         |           CASE WHEN ctx2.c12 IS NULL THEN $p2
         |             ELSE greatest(CAST(coalesce(tri.tc, 0) AS DOUBLE) - 0.75, 0.0) / CAST(ctx2.c12 AS DOUBLE)
         |                  + ((0.75 * CAST(ctx2.nf12 AS DOUBLE)) / CAST(ctx2.c12 AS DOUBLE))
         |                    * ($p2) END) * 1e6) AS BIGINT) AS lp
         |       FROM occS o LEFT JOIN tri USING (gram) LEFT JOIN ctx2 USING (g12)
         |            LEFT JOIN midT USING (g23) LEFT JOIN midC USING (w2)
         |            LEFT JOIN nbw USING (w3) CROSS JOIN consts),
         |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
         |               CAST(sum(cnt * lp) AS BIGINT) AS kn3_micro
         |        FROM sc GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_trigrams, 0) AS n_trigrams,
         |       coalesce(kn3_micro, 0) AS kn3_micro
         |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
    }),

    // Model-based filtering with TRAINED weights: closed-form
    // multinomial Naive-Bayes log-odds per hashed feature bucket, fit
    // on the corpus itself labeled by its lang column (positive class =
    // 'en'), then scored in the fastText feature-hashing shape. The
    // oracle retrains the same closed form in SQL — bucket counts, the
    // same smoothed ln-quantized weights, the same per-doc sums — so
    // every weight is provably derived from the data, not a hash.
    // keep = score > 0 (the NB verdict "more likely en than not").
    QuerySpec("doc_classifier_score", (s, dir) => {
      val d = docs(s, dir)
      val w = TextAnalysis.nbBucketWeights(d, col("lang") === "en")
      TextAnalysis.classifierScores(d, w)
        .withColumn("keep", col("score_sum") > 0)
        .orderBy(col("doc_id"))
    }, () =>
      s"""WITH t AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |          (list_sum([(CAST(strpos('0123456789abcdef', md5(tok)[i]) AS BIGINT) - 1)
         |                     * (CAST(1 AS BIGINT) << (4*(8-i))) FOR i IN range(1, 9)])
         |           % 1048576) AS bucket
         |        FROM t, unnest(toks) AS u(tok)),
         |agg AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS pos,
         |               CAST(sum(1 - y) AS BIGINT) AS neg
         |        FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS pos_tot,
         |               CAST(sum(neg) AS BIGINT) AS neg_tot FROM agg),
         |w AS (SELECT bucket,
         |        CAST(floor((ln(CAST(pos + 1 AS DOUBLE) / CAST(pos_tot + 1048576 AS DOUBLE))
         |                  - ln(CAST(neg + 1 AS DOUBLE) / CAST(neg_tot + 1048576 AS DOUBLE))) * 1e6)
         |             AS BIGINT) AS w_micro
         |      FROM agg CROSS JOIN tot),
         |sc AS (SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |              CAST(sum(w.w_micro) AS BIGINT) AS score_sum
         |       FROM occ o JOIN w USING (bucket) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
         |       coalesce(score_sum, 0) AS score_sum,
         |       coalesce(score_sum, 0) > 0 AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Scoring under the trained LR model (via the shared artifact):
    // per-doc rational-sigmoid score, prediction, label, verdict — the
    // measured-accuracy record lives under the hash gate.
    QuerySpec("doc_lr_score", (s, dir) => {
      val d = docs(s, dir)
      val artDir =
        s"${System.getProperty("java.io.tmpdir")}/graft_logreg_${dirKey(dir)}"
      graft.text.LogReg.ensureModelArtifact(s, d, artDir,
        labelLang = "en", vocabK = 16, iters = 24)
      val (vocab, w) = graft.text.LogReg.loadModel(s, artDir)
      // hash-repartition the corpus before the feature pipeline: the
      // heavy narrow compute (16 HOF feature filters per row) then
      // runs across all cores instead of inside the single scan split,
      // and the shuffle materialization keeps the final sort's
      // bound-sampling pass from re-executing the scan
      val feats = graft.text.LogReg.features(
        d.repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        vocab, col("lang") === "en")
      graft.text.LogReg.scores(feats, w)
        .select(col("doc_id"), col("score_micro"),
          col("pred"), (col("y") === 1.0).as("label"),
          (col("pred") === (col("y") === 1.0)).as("correct"))
        .orderBy(col("doc_id"))
    }, () =>
      // The same chain, final layer applied back over the feature table.
      {
      val zSum = (0 until 17).map(j => f"(w$j%02d / 1000000.0) * x$j%02d").mkString(" + ")
      s"""WITH ${lrOracleCtes(24, 16, "en", 2L, 1L)}
         |SELECT doc_id,
         |       CAST(floor(1000000.0 * (0.5 + (0.5 * (z / (1.0 + abs(z)))))) AS BIGINT) AS score_micro,
         |       (z > 0.0) AS pred, (y = 1.0) AS label,
         |       ((z > 0.0) = (y = 1.0)) AS correct
         |FROM (SELECT f.doc_id, f.y, $zSum AS z FROM f CROSS JOIN w24) q
         |ORDER BY doc_id""".stripMargin
    })
  )
}
