package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{CorpusOps, Embeddings, TextOps}

/** Round-3 corpus-quality operators as verifiable queries: PII
  * redaction, repetition-based quality signals (the Gopher/C4 family),
  * fixed-token-budget chunking, corpus-level boilerplate line removal,
  * vocabulary statistics, and embedding int8 quantization.
  *
  * The synthetic `documents` text has no digits / emails / newlines, so
  * the PII and line-oriented queries first synthesize those features
  * deterministically from `doc_id` — identically in the Spark program
  * and the oracle SQL — and then run the operator under test over the
  * derived column. The operator itself never depends on the synthesis.
  */
object QualityQueries {
  import QueryDef.table

  private val Norm =
    "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

  val all: Seq[QueryDef] = Seq(

    // PII scrub: synthesize an email / phone / IPv4 per doc, redact,
    // and count each class (the audit signal a PII budget filter uses).
    QueryDef(
      "pii_redact",
      (s, dir) => {
        val synth = concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
        table(s, dir, "documents")
          .withColumn("__graft_t", synth)
          .select(col("doc_id"),
            TextOps.redactPii(col("__graft_t")).as("clean_text"),
            TextOps.piiCount(col("__graft_t"), TextOps.EmailPattern).as("n_emails"),
            TextOps.piiCount(col("__graft_t"), TextOps.Ipv4Pattern).as("n_ips"),
            TextOps.piiCount(col("__graft_t"), TextOps.PhonePattern).as("n_phones"))
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                        '@mail.example.com or 415-555-',
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                        ' ip 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7') AS t
          FROM documents)
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                 '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g') AS clean_text,
               len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
               len(regexp_extract_all(t, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS n_phones
        FROM d""")),

    // Repetition quality signals over the normalized token stream.
    QueryDef(
      "text_repetition",
      (s, dir) => TextOps.repetitionStats(
        table(s, dir, "documents")
          .select(col("doc_id"), TextOps.normalized(col("text")).as("t")),
        "t")
        .select("doc_id", "n_tokens", "top_token_frac",
          "top_bigram_frac", "dup_trigram_frac"),
      Some(s"""
        WITH w AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
        tok AS (SELECT doc_id, unnest(ws) AS tk FROM w),
        topt AS (
          SELECT doc_id, max(c) AS mx
          FROM (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2)
          GROUP BY 1),
        bgl AS (
          SELECT doc_id,
                 CASE WHEN len(ws) >= 2
                      THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                      ELSE [] END AS bgs,
                 CASE WHEN len(ws) >= 3
                      THEN list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                      ELSE [] END AS tgs
          FROM w),
        topb AS (
          SELECT doc_id, max(c) AS mx
          FROM (SELECT doc_id, bg, count(*) AS c
                FROM (SELECT doc_id, unnest(bgs) AS bg FROM bgl) GROUP BY 1, 2)
          GROUP BY 1)
        SELECT w.doc_id,
               CAST(len(w.ws) AS BIGINT) AS n_tokens,
               CAST(topt.mx AS DOUBLE) / greatest(len(w.ws), 1) AS top_token_frac,
               CASE WHEN len(bgl.bgs) > 0
                    THEN CAST(COALESCE(topb.mx, 0) AS DOUBLE) / len(bgl.bgs)
                    ELSE 0.0 END AS top_bigram_frac,
               CASE WHEN len(bgl.tgs) > 0
                    THEN CAST(len(bgl.tgs) - len(list_distinct(bgl.tgs)) AS DOUBLE) / len(bgl.tgs)
                    ELSE 0.0 END AS dup_trigram_frac
        FROM w
        JOIN topt ON topt.doc_id = w.doc_id
        JOIN bgl ON bgl.doc_id = w.doc_id
        LEFT JOIN topb ON topb.doc_id = w.doc_id""")),

    // Fixed-token chunking with overlap (32-token windows, stride 24).
    QueryDef(
      "doc_chunks",
      (s, dir) => TextOps.chunk(
        table(s, dir, "documents")
          .select(col("doc_id"), TextOps.normalized(col("text")).as("t")),
        "doc_id", "t", chunkTokens = 32, stride = 24),
      Some(s"""
        WITH w AS (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents),
        s AS (SELECT doc_id, ws, len(ws) AS n FROM w),
        c AS (SELECT doc_id, ws, n, unnest(range(0, (n - 1) // 24 + 1)) AS i FROM s)
        SELECT doc_id,
               CAST(i AS BIGINT) AS chunk_idx,
               array_to_string(ws[i*24 + 1 : least(i*24 + 32, n)], ' ') AS chunk_text,
               CAST(least(32, n - i*24) AS BIGINT) AS n_chunk_tokens
        FROM c""")),

    // Corpus-level boilerplate removal: synthesize line structure by
    // breaking the normalized text at ' the ' (deterministic in both
    // engines), then drop lines appearing in > 3 distinct docs.
    QueryDef(
      "boilerplate_strip",
      (s, dir) => CorpusOps.stripBoilerplate(
        table(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(TextOps.normalized(col("text")), lit(" the "), lit("\n")).as("t")),
        "doc_id", "t", maxDf = 3),
      Some(s"""
        WITH d AS (SELECT doc_id, replace($Norm, ' the ', chr(10)) AS t FROM documents),
        ls AS (SELECT doc_id, string_split(t, chr(10)) AS lns FROM d),
        l AS (SELECT doc_id, unnest(range(0, len(lns))) AS line_pos, lns FROM ls),
        lx AS (SELECT doc_id, line_pos, lns[line_pos + 1] AS line FROM l),
        hot AS (SELECT md5(line) AS k FROM lx GROUP BY 1 HAVING count(DISTINCT doc_id) > 3),
        keep AS (SELECT * FROM lx WHERE md5(line) NOT IN (SELECT k FROM hot))
        SELECT doc_id,
               count(*) AS n_lines_kept,
               string_agg(line, chr(10) ORDER BY line_pos) AS clean_text
        FROM keep GROUP BY doc_id""")),

    // Exact substring-duplication audit: 40-char windows at stride 20.
    // A shared footer is appended to every third doc so cross-document
    // duplicated spans exist at every scale factor (the corpus also
    // carries genuine full-text duplicates, which flag themselves).
    QueryDef(
      "dedup_substring",
      (s, dir) => CorpusOps.duplicateSpans(
        table(s, dir, "documents")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"),
                lit(" standard legal disclaimer boilerplate repeated across many documents verbatim")))
              .otherwise(col("text")).as("t")),
        "doc_id", "t", windowChars = 40, stride = 20),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || ' standard legal disclaimer boilerplate repeated across many documents verbatim'
                      ELSE text END AS t
          FROM documents),
        w AS (SELECT doc_id, t, unnest(range(0, (len(t) - 40) // 20 + 1)) AS i
              FROM d WHERE len(t) >= 40),
        h AS (SELECT doc_id, i AS win_pos, md5(substr(t, CAST(i*20 + 1 AS BIGINT), 40)) AS win_hash FROM w),
        f AS (SELECT win_hash, count(DISTINCT doc_id) AS win_df FROM h GROUP BY 1)
        SELECT doc_id,
               count(*) AS n_windows,
               CAST(SUM(CASE WHEN f.win_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
               CAST(SUM(CASE WHEN f.win_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_window_frac
        FROM h JOIN f USING (win_hash)
        GROUP BY doc_id""")),

    // Stride-robust duplicate-span audit: winnowed stride-1 rolling
    // hashes instead of strided windows. The fixture MISALIGNS the
    // shared footer per document (doc_id % 13 chars of padding before
    // it) — the strided audit's phase-match blind spot — and the
    // winnowing guarantee (shared span >= 40+16-1 = 55 chars => shared
    // fingerprint at any alignment) still flags every footer carrier.
    QueryDef(
      "dedup_substring_robust",
      (s, dir) => CorpusOps.duplicateSpansRobust(
        table(s, dir, "documents")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(col("text"),
                expr("repeat('x', cast(doc_id % 13 as int))"),
                lit(" standard legal disclaimer boilerplate repeated across many documents verbatim")))
              .otherwise(col("text")).as("t")),
        "doc_id", "t", windowChars = 40, winnowW = 16, portable = true),
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0
                      THEN text || repeat('x', CAST(doc_id % 13 AS INTEGER)) || ' standard legal disclaimer boilerplate repeated across many documents verbatim'
                      ELSE text END AS t
          FROM documents),
        g AS (
          SELECT doc_id,
                 CASE WHEN length(t) = 0 THEN CAST([] AS BIGINT[])
                 ELSE list_transform(
                   range(1, greatest(length(t) - least(40, length(t)) + 1, 1) + 1),
                   i -> list_reduce(
                          list_transform(range(i, i + least(40, length(t))),
                            j -> CAST(ascii(substr(t, CAST(j AS INTEGER), 1)) AS BIGINT)),
                          (acc, x) -> (acc * 257 + x) % 2147483647))
                 END AS hs
          FROM d),
        s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(hs) - least(16, len(hs)) + 1, 1) + 1),
                   j -> list_min(hs[CAST(j AS INTEGER):CAST(j + least(16, len(hs)) - 1 AS INTEGER)])))) AS fp
          FROM g WHERE len(hs) > 0),
        f AS (SELECT fp, count(DISTINCT doc_id) AS fp_df FROM s GROUP BY 1)
        SELECT doc_id,
               count(*) AS n_fingerprints,
               CAST(SUM(CASE WHEN f.fp_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fingerprints,
               CAST(SUM(CASE WHEN f.fp_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_fp_frac
        FROM s JOIN f USING (fp)
        GROUP BY doc_id""")),

    // Per-document top-3 TF-IDF keywords.
    QueryDef(
      "tfidf_keywords",
      (s, dir) => CorpusOps.tfidfTopTerms(
        table(s, dir, "documents"), "doc_id", "text", k = 3),
      Some(s"""
        WITH t AS (
          SELECT doc_id, unnest(string_split($Norm, ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        dfx AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM t GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfx.term_df,
                 tf.tf * (ln((n.n_docs + 1.0) / (dfx.term_df + 1.0)) + 1.0) AS tfidf,
                 row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf * (ln((n.n_docs + 1.0) / (dfx.term_df + 1.0)) + 1.0) DESC,
                            tf.term) AS rank
          FROM tf JOIN dfx USING (term) CROSS JOIN n)
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
               CAST(tf AS BIGINT) AS tf, CAST(term_df AS BIGINT) AS term_df, tfidf
        FROM scored WHERE rank <= 3""")),

    // Corpus bigram vocabulary, top 100 by frequency (ties broken
    // lexicographically for a total order).
    QueryDef(
      "vocab_topk",
      (s, dir) => CorpusOps.vocabTopK(
        table(s, dir, "documents"), "text", n = 2, k = 100),
      Some(s"""
        WITH w AS (SELECT string_split($Norm, ' ') AS ws FROM documents),
        bg AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS ngram
               FROM w WHERE len(ws) >= 2)
        SELECT ngram, count(*) AS freq FROM bg
        GROUP BY 1 ORDER BY freq DESC, ngram LIMIT 100""")),

    // OOV-rate corpus QA: a 500-term unigram vocabulary fit on the
    // EVEN half (the "yesterday's tokenizer" artifact — the fit does
    // not grow with scoring volume), every ODD document scored for
    // out-of-vocabulary token share. One explode + broadcast token
    // join + per-doc hash-agg; identical normalization/tokens contract
    // as vocab_topk so the two compose without convention drift.
    QueryDef(
      "text_oov",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        CorpusOps.oovRate(
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text",
          CorpusOps.vocabTopK(
            docs.filter(col("doc_id") % 2 === 0), "text", n = 1, k = 500),
          "ngram")
      },
      Some(s"""
        WITH v AS (
          SELECT ngram FROM (
            SELECT unnest(string_split($Norm, ' ')) AS ngram
            FROM documents WHERE doc_id % 2 = 0)
          WHERE len(ngram) > 0
          GROUP BY 1 ORDER BY count(*) DESC, ngram LIMIT 500),
        t AS (
          SELECT doc_id AS id, unnest(string_split($Norm, ' ')) AS tok
          FROM documents WHERE doc_id % 2 = 1),
        agg AS (
          SELECT id, COUNT(*) AS n_tokens,
                 SUM(CASE WHEN v.ngram IS NULL THEN 1 ELSE 0 END) AS n_oov
          FROM t LEFT JOIN v ON v.ngram = t.tok
          WHERE len(tok) > 0
          GROUP BY 1)
        SELECT d.doc_id AS id,
               CAST(COALESCE(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(agg.n_oov, 0) AS BIGINT) AS n_oov,
               CAST(agg.n_oov AS DOUBLE) / agg.n_tokens AS oov_rate
        FROM documents d LEFT JOIN agg ON agg.id = d.doc_id
        WHERE d.doc_id % 2 = 1""")),

    // Corpus-level OOV summary — the coverage-gate number (and the
    // per-micro-batch row of StreamingOps.oovStream): same vocab +
    // split as text_oov, one row.
    QueryDef(
      "text_oov_summary",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        CorpusOps.oovSummary(
          docs.filter(col("doc_id") % 2 === 1), "text",
          CorpusOps.vocabTopK(
            docs.filter(col("doc_id") % 2 === 0), "text", n = 1, k = 500),
          "ngram")
      },
      Some(s"""
        WITH v AS (
          SELECT ngram FROM (
            SELECT unnest(string_split($Norm, ' ')) AS ngram
            FROM documents WHERE doc_id % 2 = 0)
          WHERE len(ngram) > 0
          GROUP BY 1 ORDER BY count(*) DESC, ngram LIMIT 500),
        t AS (
          SELECT unnest(string_split($Norm, ' ')) AS tok
          FROM documents WHERE doc_id % 2 = 1)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 2 = 1) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.ngram IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(SUM(CASE WHEN v.ngram IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) AS oov_rate
        FROM t LEFT JOIN v ON v.ngram = t.tok
        WHERE len(tok) > 0""")),

    // The whole prep pipeline as ONE plan: clean → redact → normalize →
    // quality gate → exact dedup → mixture sample. Catalyst fuses the
    // per-row stages into a single codegen'd projection; the only
    // shuffles are the dedup hash-agg (16-byte keys) and its keeper
    // join — composing five operators costs the same as running the
    // dedup alone. (The synthetic corpus carries no URLs/PII, so those
    // stages verify as exact no-ops over the full regex chain.)
    QueryDef(
      "corpus_prep_pipeline",
      (s, dir) => {
        val norm = TextOps.normalized(TextOps.redactPii(TextOps.cleaned(col("text"))))
        val gated = TextOps.textStats(
            table(s, dir, "documents")
              .select(col("doc_id"), col("lang"), norm.as("t")), "t", Seq("the", "a"))
          .filter(col("n_tokens") >= 20 && col("type_token_ratio") >= 0.3)
          .withColumn("text_hash", md5(col("t")))
        val keepers = gated.groupBy("text_hash")
          .agg(min("doc_id").as("doc_id"))
        graft.ops.Sampling.mixtureSample(
          gated.join(keepers, Seq("text_hash", "doc_id")),
          "doc_id", "lang", rates = Map("en" -> 50, "de" -> 80), defaultPct = 30)
          .select("doc_id", "lang", "n_tokens", "text_hash")
      },
      Some("""
        WITH n AS (
          SELECT doc_id, lang,
                 trim(regexp_replace(lower(
                   regexp_replace(regexp_replace(regexp_replace(
                     trim(regexp_replace(
                       regexp_replace(
                         regexp_replace(text, 'https?://[^\s]+', ' ', 'g'),
                         '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                       '\s+', ' ', 'g')),
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                     '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g')),
                   '\s+', ' ', 'g')) AS t
          FROM documents),
        g AS (
          SELECT doc_id, lang, t,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(t, ' '))) AS DOUBLE) /
                   CAST(len(string_split(t, ' ')) AS DOUBLE) AS ttr,
                 md5(t) AS text_hash
          FROM n),
        gated AS (SELECT * FROM g WHERE n_tokens >= 20 AND ttr >= 0.3),
        keep AS (SELECT text_hash, min(doc_id) AS doc_id FROM gated GROUP BY 1)
        SELECT d.doc_id, d.lang, d.n_tokens, d.text_hash
        FROM gated d JOIN keep k ON k.text_hash = d.text_hash AND k.doc_id = d.doc_id
        WHERE ((((d.doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 <
              CASE d.lang WHEN 'en' THEN 50 WHEN 'de' THEN 80 ELSE 30 END""")),

    // Embedding int8 scalar quantization with exact reconstruction
    // audit (codes as CSV so the compared frame stays scalar-typed).
    QueryDef(
      "embed_quantize",
      (s, dir) => Embeddings.quantizeInt8(
        table(s, dir, "embeddings"), "embedding")
        .select(col("vec_id"), col("q_scale"),
          array_join(transform(col("q_codes"), c => c.cast("string")), ",").as("q_codes_csv"),
          col("q_max_err"), col("q_n_sat"),
          (col("q_max_err") <= col("q_scale") / 2 + lit(1e-12)).as("within_bound")),
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
        s AS (SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS q_scale FROM v),
        q AS (SELECT vec_id, vd, q_scale,
                     CASE WHEN q_scale > 0
                          THEN list_transform(vd, x -> CAST(floor(x / q_scale + 0.5) AS INTEGER))
                          ELSE list_transform(vd, x -> 0) END AS codes
              FROM s),
        e AS (SELECT vec_id, q_scale, codes,
                     CASE WHEN q_scale > 0
                          THEN list_max(list_transform(range(1, len(codes) + 1),
                                 i -> abs(codes[i] * q_scale - vd[i])))
                          ELSE 0.0 END AS q_max_err
              FROM q)
        SELECT vec_id, q_scale,
               array_to_string(codes, ',') AS q_codes_csv,
               q_max_err,
               CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS q_n_sat,
               q_max_err <= q_scale / 2 + 1e-12 AS within_bound
        FROM e""")),

    // BPE training statistic (round-1 form): adjacent character-pair
    // counts over every word occurrence — the aggregate each merge
    // round of Bpe.train ranks.
    QueryDef(
      "bpe_pair_counts",
      (s, dir) => graft.ops.Bpe.pairCounts(
        table(s, dir, "documents"), "text"),
      Some(s"""
        WITH w AS (SELECT string_split($Norm, ' ') AS ws FROM documents),
        wd AS (SELECT unnest(ws) AS word FROM w),
        p AS (
          SELECT substr(word, CAST(i AS INTEGER), 1) || ' ' ||
                 substr(word, CAST(i + 1 AS INTEGER), 1) AS pair
          FROM wd, unnest(range(1, greatest(length(word), 1))) t(i)
          WHERE length(word) >= 2)
        SELECT pair, COUNT(*) AS cnt FROM p GROUP BY pair""")),

    // BPE SERVING path (the codegen'd BpeSegment expression) under a
    // fixed merge table whose rule letters are pairwise disjoint: a
    // merged symbol then never matches a char of another rule, so each
    // rule's merge count over a word equals left-to-right
    // non-overlapping substring counting on the ORIGINAL text —
    // exactly DuckDB replace() semantics. Token counts and the md5 of
    // the position-ordered reassembled stream are therefore pinned
    // cross-engine without replaying the segmenter: n_tokens =
    // chars − Σ merges, reassembled == space-stripped normalized text
    // (BPE is lossless). Docs that normalize to empty emit no tokens
    // and drop from both sides.
    QueryDef(
      "bpe_tokenize",
      (s, dir) => graft.ops.Bpe.tokenize(
        table(s, dir, "documents"), "doc_id", "text",
        rules = Seq("t" -> "h", "e" -> "r", "o" -> "n", "a" -> "s"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("token_pos"), col("token")))),
              x => x.getField("token")), "")).as("reassembled_md5")),
      Some(s"""
        WITH c AS (
          SELECT doc_id, $Norm AS norm, replace($Norm, ' ', '') AS compact
          FROM documents)
        SELECT doc_id,
               CAST(length(compact)
                 - (length(norm) - length(replace(norm, 'th', ''))) // 2
                 - (length(norm) - length(replace(norm, 'er', ''))) // 2
                 - (length(norm) - length(replace(norm, 'on', ''))) // 2
                 - (length(norm) - length(replace(norm, 'as', ''))) // 2 AS BIGINT) AS n_tokens,
               md5(compact) AS reassembled_md5
        FROM c
        WHERE compact != ''""")),

    // Unigram-LM (SentencePiece-style) Viterbi SERVING path under a
    // fixed piece table whose multi-codepoint pieces have pairwise
    // disjoint alphabets: occurrences of such pieces can never
    // conflict (a piece cannot overlap itself — its two letters
    // differ — nor another piece — their alphabets are disjoint), so
    // the segmentation maximizing total log-probability uses EVERY
    // occurrence, and n_tokens = chars − Σ occurrences with the same
    // left-to-right replace() counting as the bpe_tokenize oracle.
    // Losslessness pins the reassembled stream md5. The oracle SQL is
    // bpe_tokenize's verbatim — two different tokenizers, one
    // cross-engine truth.
    QueryDef(
      "unigram_tokenize",
      (s, dir) => graft.ops.Unigram.tokenize(
        table(s, dir, "documents"), "doc_id", "text",
        pieces = Seq("th" -> -3.0, "er" -> -3.0, "on" -> -3.0, "as" -> -3.0),
        unkLogp = -10.0, maxPieceLen = 2)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("token_pos"), col("token")))),
              x => x.getField("token")), "")).as("reassembled_md5")),
      Some(s"""
        WITH c AS (
          SELECT doc_id, $Norm AS norm, replace($Norm, ' ', '') AS compact
          FROM documents)
        SELECT doc_id,
               CAST(length(compact)
                 - (length(norm) - length(replace(norm, 'th', ''))) // 2
                 - (length(norm) - length(replace(norm, 'er', ''))) // 2
                 - (length(norm) - length(replace(norm, 'on', ''))) // 2
                 - (length(norm) - length(replace(norm, 'as', ''))) // 2 AS BIGINT) AS n_tokens,
               md5(compact) AS reassembled_md5
        FROM c
        WHERE compact != ''""")),

    // Subword-regularization SAMPLING (Kudo 2018 §3): one segmentation
    // per word drawn from P(seg)^alpha by deterministic forward-
    // filtering backward-sampling (splitmix64 of (seed, row salt, word
    // index, boundary) — a pure function of the inputs, so the result
    // is oracle-pinnable). The sampled path is not SQL-expressible, so
    // the oracle pins the sampler's CONTRACT surface per doc: lossless
    // reassembly (md5 == the compact text's, data-dependent on both
    // sides) and the token count inside its only possible range
    // [ceil(chars/maxPieceLen), chars].
    QueryDef(
      "unigram_tokenize_sampled",
      (s, dir) => {
        import graft.ops.{TextOps, Unigram}
        val m = Unigram.Model(
          Seq("th" -> -3.0, "er" -> -3.0, "on" -> -3.0, "as" -> -3.0),
          unkLogp = -10.0, maxPieceLen = 2, llTrace = Nil)
        val docs = table(s, dir, "documents")
        val toks = Unigram.tokenizeSampled(
          docs, "doc_id", "text", m, alpha = 0.5, seed = 42L)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("__graft_n"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("token_pos"), col("token")))),
                x => x.getField("token")), "")).as("reassembled_md5"))
        val compact = regexp_replace(TextOps.normalized(col("text")), " ", "")
        docs.select(col("doc_id"), length(compact).as("__graft_len"))
          .where(compact =!= "")
          .join(toks, Seq("doc_id"))
          .select(col("doc_id"), col("reassembled_md5"),
            col("__graft_n").between(
              ceil(col("__graft_len") / 2.0), col("__graft_len"))
              .as("tokens_in_bounds"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, replace($Norm, ' ', '') AS compact FROM documents)
        SELECT doc_id, md5(compact) AS reassembled_md5,
               TRUE AS tokens_in_bounds
        FROM c
        WHERE compact != ''""")),

    // Unigram-LM TRAINING (EM over the word dictionary) + serving,
    // pinned by its invariant surface (the embed_pca pattern — the EM
    // fixpoint is not SQL-expressible): the trained tokenizer must
    // reach exactly the requested vocabulary size, reassemble every
    // document losslessly (corpus-level md5-of-md5s computed from the
    // data on both sides), and its final EM phase's corpus
    // log-likelihood must be monotone non-decreasing (the EM
    // guarantee; plain ML EM, no smoothing).
    QueryDef(
      "unigram_train_tokenize",
      (s, dir) => {
        import graft.ops.{TextOps, Unigram}
        val docs = table(s, dir, "documents")
        val m = Unigram.train(docs, "text", vocabSize = 150,
          maxPieceLen = 4, seedSize = 1 << 12, emIters = 3)
        val toks = Unigram.tokenize(docs, "doc_id", "text", m)
          .groupBy("doc_id")
          .agg(md5(array_join(
            transform(
              array_sort(collect_list(struct(col("token_pos"), col("token")))),
              x => x.getField("token")), "")).as("rmd5"))
        val compact = regexp_replace(TextOps.normalized(col("text")), " ", "")
        val base = docs
          .select(col("doc_id"), md5(compact).as("cmd5"))
          .where(compact =!= "")
        base.join(toks, Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_docs"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("rmd5")))),
                x => x.getField("rmd5")), "")).as("corpus_md5"),
            every(col("rmd5").isNotNull && col("rmd5") === col("cmd5"))
              .as("lossless"))
          .withColumn("vocab_size", lit(m.pieces.size))
          .withColumn("ll_monotone", lit(m.llMonotone))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, md5(replace($Norm, ' ', '')) AS cmd5
          FROM documents
          WHERE replace($Norm, ' ', '') != '')
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               md5(string_agg(cmd5, '' ORDER BY doc_id)) AS corpus_md5,
               TRUE AS lossless,
               CAST(150 AS INTEGER) AS vocab_size,
               TRUE AS ll_monotone
        FROM c""")),

    // WordPiece greedy longest-match SERVING path (the codegen'd
    // WordPieceSegment expression) under a frozen vocabulary: the four
    // disjoint-alphabet two-char pieces of the bpe_tokenize oracle in
    // BOTH word-initial and ##-continuation form, plus total
    // single-char coverage (ASCII bare + ##). Disjoint alphabets mean
    // greedy longest-match takes EVERY occurrence of the two-char
    // pieces (a piece can't overlap itself — its letters differ — nor
    // another piece, and a match at i excludes one at i-1, so the
    // left-to-right scan always ARRIVES at each occurrence), which is
    // exactly DuckDB's non-overlapping replace() counting; singles
    // make segmentation total, so no [UNK] fires and the ##-stripped
    // reassembly is lossless. The oracle SQL is bpe_tokenize's
    // verbatim — THREE tokenizer families, one cross-engine truth.
    QueryDef(
      "wordpiece_tokenize",
      (s, dir) => {
        val singles = (' ' to '~').map(_.toString)
        val m = graft.ops.WordPiece.Model(
          vocab = Seq("th", "er", "on", "as").flatMap(p => Seq(p, "##" + p))
            ++ singles ++ singles.map("##" + _),
          unk = "[UNK]", maxWordCp = 1000)
        graft.ops.WordPiece.tokenize(
          table(s, dir, "documents"), "doc_id", "text", m)
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("token_pos"), col("token")))),
                x => regexp_replace(x.getField("token"), "^##", "")), ""))
              .as("reassembled_md5"))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, $Norm AS norm, replace($Norm, ' ', '') AS compact
          FROM documents)
        SELECT doc_id,
               CAST(length(compact)
                 - (length(norm) - length(replace(norm, 'th', ''))) // 2
                 - (length(norm) - length(replace(norm, 'er', ''))) // 2
                 - (length(norm) - length(replace(norm, 'on', ''))) // 2
                 - (length(norm) - length(replace(norm, 'as', ''))) // 2 AS BIGINT) AS n_tokens,
               md5(compact) AS reassembled_md5
        FROM c
        WHERE compact != ''""")),

    // WordPiece TRAINING (likelihood-scored merges over the word
    // dictionary) + greedy serving, pinned by its invariant surface
    // (the unigram_train_tokenize pattern): the trained vocabulary
    // seeds every (char, position-class) the corpus contains, so
    // serving the SAME corpus is total — zero [UNK]s and lossless
    // ##-stripped reassembly (corpus-level md5-of-md5s computed from
    // the data on both sides) — and the vocabulary stays within
    // alphabet + nMerges with no duplicates.
    QueryDef(
      "wordpiece_train_tokenize",
      (s, dir) => {
        import graft.ops.{TextOps, WordPiece}
        val docs = table(s, dir, "documents")
        val m = WordPiece.train(docs, "text", nMerges = 64)
        val alphabetSize = m.vocab.count(p =>
          (if (p.startsWith("##")) p.substring(2) else p)
            .codePointCount(0, (if (p.startsWith("##")) p.substring(2) else p).length) == 1)
        val toks = WordPiece.tokenize(docs, "doc_id", "text", m)
          .groupBy("doc_id")
          .agg(
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("token_pos"), col("token")))),
                x => regexp_replace(x.getField("token"), "^##", "")), ""))
              .as("rmd5"),
            sum(when(col("token") === m.unk, 1L).otherwise(0L)).as("n_unk"))
        val compact = regexp_replace(TextOps.normalized(col("text")), " ", "")
        val base = docs
          .select(col("doc_id"), md5(compact).as("cmd5"))
          .where(compact =!= "")
        base.join(toks, Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_docs"),
            md5(array_join(
              transform(
                array_sort(collect_list(struct(col("doc_id"), col("rmd5")))),
                x => x.getField("rmd5")), "")).as("corpus_md5"),
            every(col("rmd5").isNotNull && col("rmd5") === col("cmd5"))
              .as("lossless"),
            sum(col("n_unk")).as("n_unk"))
          .withColumn("vocab_ok",
            lit(m.vocab.size <= alphabetSize + 64 &&
              m.vocab.distinct.size == m.vocab.size))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, md5(replace($Norm, ' ', '')) AS cmd5
          FROM documents
          WHERE replace($Norm, ' ', '') != '')
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               md5(string_agg(cmd5, '' ORDER BY doc_id)) AS corpus_md5,
               TRUE AS lossless,
               CAST(0 AS BIGINT) AS n_unk,
               TRUE AS vocab_ok
        FROM c""")),

    // Per-doc Shannon entropy (codepoint + token distributions) — the
    // compression-style quality signal, computed by the zero-shuffle
    // codegen expression (ONE pass per row; the oracle's relational
    // explode-and-aggregate form is the cross-engine truth, exact
    // because each −p·ln p term rounds to 9 dp and sums through
    // DECIMAL on both sides — order-free).
    QueryDef(
      "text_entropy",
      (s, dir) => {
        import graft.functions.EntropyFunctions
        import graft.ops.TextOps
        val norm = TextOps.normalized(col("text"))
        val compact = regexp_replace(norm, " ", "")
        table(s, dir, "documents")
          .select(col("doc_id"),
            length(compact).as("n_chars"),
            EntropyFunctions.charEntropy(compact).as("char_entropy"),
            EntropyFunctions.tokenEntropy(norm).as("token_entropy"))
          .where(length(compact) > 0)
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, $Norm AS norm, replace($Norm, ' ', '') AS compact
          FROM documents
          WHERE replace($Norm, ' ', '') != ''),
        chc AS (
          SELECT doc_id, s, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split_regex(compact, '')) AS s FROM c)
          WHERE s != '' GROUP BY 1, 2),
        chn AS (SELECT doc_id, SUM(cnt) AS n FROM chc GROUP BY 1),
        che AS (
          SELECT chc.doc_id,
                 CAST(SUM(CAST(round(-((cnt / n) * ln(cnt / n)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                   AS char_entropy
          FROM chc JOIN chn USING (doc_id) GROUP BY 1),
        tkc AS (
          SELECT doc_id, s, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS s FROM c)
          WHERE s != '' GROUP BY 1, 2),
        tkn AS (SELECT doc_id, SUM(cnt) AS n FROM tkc GROUP BY 1),
        tke AS (
          SELECT tkc.doc_id,
                 CAST(SUM(CAST(round(-((cnt / n) * ln(cnt / n)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                   AS token_entropy
          FROM tkc JOIN tkn USING (doc_id) GROUP BY 1)
        SELECT c.doc_id, length(compact) AS n_chars, char_entropy, token_entropy
        FROM c JOIN che ON c.doc_id = che.doc_id
        JOIN tke ON c.doc_id = tke.doc_id""")),

    // Per-source unigram KL divergence vs the pooled corpus — the
    // composition-shift audit of a multi-source mix. One shuffle on
    // (source, token); every other statistic derives from that
    // aggregate. Exact cross-engine via the 9 dp + DECIMAL-sum recipe.
    QueryDef(
      "source_divergence",
      (s, dir) => CorpusOps.sourceDivergence(
        table(s, dir, "documents"), "source", "text"),
      Some(s"""
        WITH t AS (
          SELECT source, s AS tk
          FROM (SELECT source, unnest(string_split($Norm, ' ')) AS s FROM documents)
          WHERE s != ''),
        sw AS (SELECT source, tk, COUNT(*) AS c_sw FROM t GROUP BY 1, 2),
        cw AS (SELECT tk, SUM(c_sw) AS c_w FROM sw GROUP BY 1),
        ns AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY 1),
        n AS (SELECT SUM(c_sw) AS n FROM sw)
        SELECT sw.source,
               CAST(SUM(c_sw) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CAST(round(
                   (c_sw / n_s) * ln((c_sw / n_s) / (c_w / n)), 9)
                 AS DECIMAL(24,9))) AS DOUBLE) AS kl_vs_corpus
        FROM sw
        JOIN cw USING (tk)
        JOIN ns USING (source)
        CROSS JOIN n
        GROUP BY 1""")),

    // Count-min heavy hitters — the mergeable frequency sketch kept
    // in RELATIONAL form (one row per cell), so DuckDB rebuilds the
    // ENTIRE sketch and the estimates match exactly (not just
    // bounds): portable md5 hash pair, ((h1 + d·h2) mod p) mod width.
    // The query pins three things per top-20 token: the exact count,
    // the CMS estimate (value-equal cross-engine), and the never-
    // underestimate law; merged_eq additionally pins the merge law —
    // two half-corpus sketches cell-summed serve the SAME estimates
    // as the one-pass sketch (exact, by construction; the oracle's
    // TRUE literal is the contract).
    QueryDef(
      "cms_heavy_hitters",
      (s, dir) => {
        import graft.ops.{FeatureStats, TextOps}
        val docs = table(s, dir, "documents")
        // ONE corpus pass: tokenize, explode, and aggregate to
        // per-(parity, token) counts in a single map-side-combined
        // shuffle. The checkpointed frame is VOCABULARY-bounded (≤ 2
        // rows per distinct token — r16 staged the full exploded-token
        // corpus, O(total tokens) block storage at scale); the full
        // sketch, both half sketches, and the exact top-20 all derive
        // from these counts by construction (cell_d,b = Σ counts of
        // tokens hashing there; exact_cnt = Σ over parities).
        val cnt = docs
          .select(pmod(col("doc_id"), lit(2)).as("__graft_par"),
            explode(TextOps.tokens(TextOps.normalized(col("text"))))
              .as("tk"))
          .filter(col("tk") =!= "")
          .groupBy("__graft_par", "tk").agg(count(lit(1)).as("c"))
          .localCheckpoint(false)
        val all = cnt.groupBy("tk").agg(sum(col("c")).as("c"))
        val prof = FeatureStats.cmsProfileOfCounts(
          all, "tk", "c", width = 512, depth = 3)
        val merged = FeatureStats.mergeCmsProfiles(Seq(
          FeatureStats.cmsProfileOfCounts(
            cnt.filter(col("__graft_par") === 0), "tk", "c",
            width = 512, depth = 3),
          FeatureStats.cmsProfileOfCounts(
            cnt.filter(col("__graft_par") === 1), "tk", "c",
            width = 512, depth = 3)))
        val top = all.select(col("tk"), col("c").as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("tk").asc).limit(20)
        val single = FeatureStats.cmsEstimate(prof, top, "tk")
        val m = FeatureStats.cmsEstimate(merged, top, "tk")
          .select(col("tk"), col("cms_est").as("cms_est_m"))
        single.join(m, Seq("tk"))
          .select(col("tk"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") >= col("exact_cnt")).as("ge_ok"),
            (col("cms_est_m") === col("cms_est")).as("merged_eq"))
      },
      Some(s"""
        WITH t AS (
          SELECT s AS tk
          FROM (SELECT unnest(string_split($Norm, ' ')) AS s FROM documents)
          WHERE s != ''),
        cnt AS (SELECT tk, COUNT(*) AS c FROM t GROUP BY tk),
        h AS (SELECT tk, c,
                     CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % 2147483647 AS h1,
                     CAST('0x' || substr(md5(tk), 16, 15) AS BIGINT) % 2147483647 AS h2
              FROM cnt),
        cells AS (
          SELECT d, ((h1 + d * h2) % 2147483647) % 512 AS b, SUM(c) AS cell
          FROM h CROSS JOIN unnest(range(0, 3)) t2(d)
          GROUP BY 1, 2),
        top AS (SELECT tk, c FROM cnt ORDER BY c DESC, tk LIMIT 20),
        est AS (
          SELECT top.tk, top.c, MIN(cell) AS cms_est
          FROM top
          JOIN h USING (tk)
          CROSS JOIN unnest(range(0, 3)) t3(d)
          JOIN cells ON cells.d = t3.d
                    AND cells.b = ((h.h1 + t3.d * h.h2) % 2147483647) % 512
          GROUP BY 1, 2)
        SELECT tk, CAST(c AS BIGINT) AS exact_cnt,
               CAST(cms_est AS BIGINT) AS cms_est,
               cms_est >= c AS ge_ok,
               TRUE AS merged_eq
        FROM est""")),

    // Corpus domain discovery: deterministic k-means over the
    // embedding column labels every vector with a topic/domain id —
    // the coverage/diversity audit of a mixture designer. The fit is
    // not SQL-expressible, so the oracle is the embed_pca-style
    // invariant surface computed IN-QUERY over the same data: every
    // assignment must minimize the exact squared L2 distance
    // RECOMPUTED through a different code path (relational
    // zip_with/aggregate vs the codegen CentroidScores kernel), and
    // the used-domain count must stay within [1, k].
    QueryDef(
      "corpus_domains",
      (s, dir) => {
        import graft.ops.Similarity
        val emb = table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .filter(col("embedding").isNotNull)
        val cents = Similarity.ivfCentroids(
          emb, "vec_id", "embedding", nCentroids = 8, iters = 3)
        val assigned = Similarity.assignCentroid(emb, "embedding", cents)
        val v = col("embedding").cast("array<double>")
        val dists = array(cents.map { c =>
          aggregate(
            zip_with(v, typedLit(c.toSeq), (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x)
        }: _*)
        assigned
          .withColumn("__d", dists)
          .withColumn("__opt",
            element_at(col("__d"), col("centroid") + 1) <=
              array_min(col("__d")) + lit(1e-9))
          .agg(
            count(lit(1)).as("n_vecs"),
            every(col("__opt")).as("all_optimal"),
            countDistinct(col("centroid")).between(1, 8).as("domains_ok"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
               TRUE AS all_optimal, TRUE AS domains_ok
        FROM embeddings WHERE embedding IS NOT NULL""")),

    // Johnson-Lindenstrauss random projection 64 → 4 dims: integer
    // plane literals embedded in both engines; the division order
    // (dot / 1e6 / sqrt(k)) matches exactly.
    QueryDef(
      "embed_project",
      (s, dir) => graft.ops.Embeddings.randomProject(
        table(s, dir, "embeddings"), "embedding", dim = 64, k = 4)
        .select("vec_id", "p0", "p1", "p2", "p3"),
      Some {
        val planes = (0 until 4).map { j =>
          graft.ops.Similarity.planeWeights(j, 64)
            .map(_.toLong.toString).mkString(", ")
        }
        s"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings)
        SELECT vec_id,
               ${(0 until 4).map(j =>
                 s"list_dot_product(vd, CAST([${planes(j)}] AS DOUBLE[])) / 1000000.0 / sqrt(4.0) AS p$j")
                 .mkString(",\n               ")}
        FROM v"""
      }),

    // PCA 64 → 4: the data-driven sibling of the JL projection (one
    // in-engine fitting pass + codegen serving). The eigenbasis is
    // not SQL-expressible, so the oracle is the q16-style invariant
    // surface computed IN-QUERY over the same data the model was fit
    // on: each projected coordinate's population variance must equal
    // its eigenvalue (they are the same quantity by definition —
    // var_pop(pcj) = wⱼᵀCwⱼ = λⱼ), adjacent coordinates must be
    // uncorrelated (eigenvector orthogonality through the data), and
    // eigenvalues must come out descending.
    QueryDef(
      "embed_pca",
      (s, dir) => {
        import graft.ops.Embeddings
        val emb = table(s, dir, "embeddings")
        val m = Embeddings.pcaFit(emb, "embedding", dim = 64, k = 4)
        val proj = Embeddings.pcaProject(
          emb.filter(col("embedding").isNotNull), "embedding", m)
        val a = proj.agg(
          var_pop(col("pc0")).as("v0"), var_pop(col("pc1")).as("v1"),
          var_pop(col("pc2")).as("v2"), var_pop(col("pc3")).as("v3"),
          covar_pop(col("pc0"), col("pc1")).as("c01"),
          covar_pop(col("pc1"), col("pc2")).as("c12"),
          covar_pop(col("pc2"), col("pc3")).as("c23"))
        val ev = m.eigenvalues
        val rows = (0 until 4).map { j =>
          val varOk = abs(col(s"v$j") / lit(ev(j)) - 1.0) < 1e-6
          val crossOk =
            if (j < 3)
              abs(col(s"c$j${j + 1}")) / lit(math.sqrt(ev(j) * ev(j + 1))) < 1e-6
            else lit(true)
          struct(lit(j.toLong).as("component"), varOk.as("var_matches_eigenvalue"),
            crossOk.as("orthogonal_to_next"),
            lit(j == 3 || ev(j) >= ev(j + 1)).as("eigen_decreasing"))
        }
        a.select(explode(array(rows: _*)).as("r")).select("r.*")
      },
      Some("""
        SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS component,
               true AS var_matches_eigenvalue,
               true AS orthogonal_to_next,
               true AS eigen_decreasing""")),

    // PCA WHITENING: every output coordinate has UNIT variance (the
    // 1/√λ scaling folded into the serving literals) and stays
    // decorrelated, and each wpcⱼ is exactly pcⱼ/√λⱼ (spec-pinned);
    // the in-query invariant proves the variance contract, the oracle
    // pins it as literals (ANN-recall style).
    QueryDef(
      "embed_whiten",
      (s, dir) => {
        import graft.ops.Embeddings
        val emb = table(s, dir, "embeddings")
        val m = Embeddings.pcaFit(emb, "embedding", dim = 64, k = 4)
        val proj = Embeddings.pcaWhiten(
          emb.filter(col("embedding").isNotNull), "embedding", m)
        val a = proj.agg(
          var_pop(col("wpc0")).as("v0"), var_pop(col("wpc1")).as("v1"),
          var_pop(col("wpc2")).as("v2"), var_pop(col("wpc3")).as("v3"),
          covar_pop(col("wpc0"), col("wpc1")).as("c01"),
          covar_pop(col("wpc1"), col("wpc2")).as("c12"),
          covar_pop(col("wpc2"), col("wpc3")).as("c23"))
        val rows = (0 until 4).map { j =>
          val varOk = abs(col(s"v$j") - 1.0) < 1e-6
          val crossOk =
            if (j < 3) abs(col(s"c$j${j + 1}")) < 1e-6 else lit(true)
          struct(lit(j.toLong).as("component"),
            varOk.as("unit_variance"), crossOk.as("decorrelated"))
        }
        a.select(explode(array(rows: _*)).as("r")).select("r.*")
      },
      Some("""
        SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS component,
               true AS unit_variance,
               true AS decorrelated""")),

    // StatisticsGen over the examplegen output's source table: one
    // aggregation pass, one row per feature (the TFX stage that
    // consumes an example-gen component downstream).
    QueryDef(
      "feature_stats",
      (s, dir) => graft.ops.FeatureStats.summarize(
        table(s, dir, "orders"),
        numericCols = Seq("o_totalprice", "o_custkey"),
        stringCols = Seq("o_orderstatus", "o_orderpriority")),
      Some("""
        SELECT 'o_totalprice' AS feature, COUNT(*) AS n,
               COUNT(*) - COUNT(o_totalprice) AS n_null,
               COUNT(DISTINCT o_totalprice) AS n_distinct,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(COUNT(o_totalprice) AS DOUBLE) AS mean,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_val,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_val
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey),
               CAST(SUM(CAST(o_custkey AS DECIMAL(28,6))) AS DOUBLE)
                 / CAST(COUNT(o_custkey) AS DOUBLE),
               CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders""")),

    // The 100 TB stats mode, held to its documented error bound: HLL++
    // uniques (no Expand duplication) must land within 10% of exact —
    // the q16-style invariant oracle (exact scalars + literal trues).
    QueryDef(
      "feature_stats_approx",
      (s, dir) => {
        val o = table(s, dir, "orders")
        val exact = graft.ops.FeatureStats.summarize(
          o, Seq("o_totalprice", "o_custkey"), Seq("o_orderstatus"))
          .select(col("feature"), col("n"), col("n_distinct"))
        val approx = graft.ops.FeatureStats.summarize(
          o, Seq("o_totalprice", "o_custkey"), Seq("o_orderstatus"),
          exactDistinct = false)
          .select(col("feature"), col("n_distinct").as("nd_approx"))
        exact.join(approx, Seq("feature"))
          .select(col("feature"), col("n"), col("n_distinct"),
            (abs(col("nd_approx") - col("n_distinct")).cast("double") <=
              lit(0.1) * col("n_distinct").cast("double")).as("within_bound"))
      },
      Some("""
        SELECT 'o_totalprice' AS feature, COUNT(*) AS n,
               COUNT(DISTINCT o_totalprice) AS n_distinct, true AS within_bound
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey), true
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(DISTINCT o_orderstatus), true
        FROM orders""")),

    // TFDV top-k uniques for one feature: partial-agg counts +
    // TakeOrderedAndProject, value tie-break.
    QueryDef(
      "feature_topk",
      (s, dir) => graft.ops.FeatureStats.topValues(
        table(s, dir, "orders"), "o_orderpriority", k = 3),
      Some("""
        SELECT o_orderpriority AS value, COUNT(*) AS n
        FROM orders WHERE o_orderpriority IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, value LIMIT 3""")),

    // TFDV standard histogram: equi-width buckets of one numeric
    // feature. Bucket index is one double division per row (identical
    // on both engines); max folds into the last bucket.
    QueryDef(
      "feature_hist",
      (s, dir) => graft.ops.FeatureStats.histogram(
        table(s, dir, "lineitem"), "l_extendedprice", nBins = 16),
      Some("""
        WITH b AS (
          SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
                 max(CAST(l_extendedprice AS DOUBLE)) AS mx
          FROM lineitem WHERE l_extendedprice IS NOT NULL),
        h AS (
          SELECT CASE WHEN b.mx = b.mn THEN 0
                      ELSE least(CAST(floor((CAST(l.l_extendedprice AS DOUBLE) - b.mn) /
                             ((b.mx - b.mn) / 16.0)) AS BIGINT), 15) END AS bucket,
                 b.mn AS mn, b.mx AS mx
          FROM lineitem l, b WHERE l.l_extendedprice IS NOT NULL)
        SELECT bucket,
               mn + CAST(bucket AS DOUBLE) * ((mx - mn) / 16.0) AS lo,
               mn + CAST(bucket + 1 AS DOUBLE) * ((mx - mn) / 16.0) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM h GROUP BY bucket, mn, mx""")),

    // TFT scale_to_z_score: standardize a feature against its own
    // population moments (exact DECIMAL sums, one double combine).
    // Incremental profiling: two disjoint hash-shards profiled
    // independently, merged, finalized — and the result must equal the
    // whole table profiled at once, which is what the oracle computes
    // directly over the full lineitem (exact DECIMAL moments make the
    // merge bit-identical, not approximately equal).
    QueryDef(
      "stats_profile_merge",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val a = li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) < 50)
        val b = li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) >= 50)
        // var_pop rounds to 3 dp on BOTH sides: the exact decimal
        // moments are bit-identical across engines, but the final
        // decimal(38,12)→double cast of sxx (~6.6e15 at sf0.1, ~28
        // significant digits) rounds ONCE in the JVM (BigDecimal) and
        // TWICE in DuckDB (int128→double, then /10^12) — a 1-ulp
        // difference at 9e8 magnitude that the driver's 6-dp compare
        // sees (caught by the r14 sf0.1 certification). 3 dp keeps
        // ~3 orders of margin over the ulp while still pinning the
        // merge==direct law to 12 significant digits.
        graft.ops.FeatureStats.finalizeProfile(
          graft.ops.FeatureStats.mergeProfiles(Seq(
            graft.ops.FeatureStats.profile(a, cols),
            graft.ops.FeatureStats.profile(b, cols))))
          .withColumn("var_pop", round(col("var_pop"), 3))
      },
      Some("""
        WITH f AS (
          SELECT 'l_quantity' AS feature, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
                 COUNT(l_quantity) AS cnt,
                 SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
                 SUM(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxx,
                 MIN(CAST(l_quantity AS DOUBLE)) AS min_val,
                 MAX(CAST(l_quantity AS DOUBLE)) AS max_val
          FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
                 COUNT(l_extendedprice),
                 SUM(CAST(l_extendedprice AS DECIMAL(28,6))),
                 SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))),
                 MIN(CAST(l_extendedprice AS DOUBLE)),
                 MAX(CAST(l_extendedprice AS DOUBLE))
          FROM lineitem
          UNION ALL
          SELECT 'l_discount', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
                 COUNT(l_discount),
                 SUM(CAST(l_discount AS DECIMAL(28,6))),
                 SUM(CAST(l_discount AS DECIMAL(28,6)) * CAST(l_discount AS DECIMAL(28,6))),
                 MIN(CAST(l_discount AS DOUBLE)),
                 MAX(CAST(l_discount AS DOUBLE))
          FROM lineitem)
        SELECT feature, n, n_null,
               CASE WHEN cnt > 0 THEN CAST(sx AS DOUBLE) / CAST(cnt AS DOUBLE) END AS mean,
               CASE WHEN cnt > 0 THEN
                 round((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                   / CAST(cnt AS DOUBLE)) / CAST(cnt AS DOUBLE), 3) END AS var_pop,
               min_val, max_val
        FROM f""")),

    // Mergeable distinct counts: shard HLL sketches union into the
    // full-corpus sketch; the oracle checks the invariant surface
    // (q16/ANN-recall style) — the exact distinct count is computed
    // IN-QUERY as the baseline, and the merged-sketch estimate must
    // land within the sketch's error envelope.
    QueryDef(
      "stats_profile_distinct",
      (s, dir) => {
        import graft.ops.FeatureStats
        val li = table(s, dir, "lineitem")
        val cols = Seq("l_orderkey", "l_partkey")
        val shards = Seq(
          li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) < 50),
          li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) >= 50))
          .map(FeatureStats.profileDistinct(_, cols))
        val est = FeatureStats.estimateDistinct(
          FeatureStats.mergeDistinctProfiles(shards))
        val exact = li.agg(
          countDistinct(col("l_orderkey")).as("l_orderkey"),
          countDistinct(col("l_partkey")).as("l_partkey"))
          .select(explode(array(cols.map(c =>
            struct(lit(c).as("feature"), col(c).as("n_distinct"))): _*)).as("e"))
          .select("e.*")
        exact.join(est, Seq("feature"))
          .select(col("feature"), col("n_distinct"),
            (abs(col("n_distinct_est") - col("n_distinct")) <=
              col("n_distinct") * 0.05).as("nd_ok"))
      },
      Some("""
        SELECT 'l_orderkey' AS feature,
               CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
               true AS nd_ok
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey', CAST(COUNT(DISTINCT l_partkey) AS BIGINT), true
        FROM lineitem""")),

    // TFDV SchemaGen: infer a schema table from the orders batch — a
    // closed 3-value status domain, a 5-value priority domain, two
    // high-cardinality columns (domain NULL past maxDomain=32), and a
    // synthesized nullable column so n_null > 0 occurs. Domain strings
    // are '|'-joined sorted distinct values, '\'-escaped so values
    // containing the delimiter round-trip (none do in this data — the
    // escaping is exercised by FeatureStatsSpec's adversarial domain).
    QueryDef(
      "stats_infer_schema",
      (s, dir) => graft.ops.FeatureStats.inferSchema(
        table(s, dir, "orders")
          .withColumn("prio_n",
            when(pmod(col("o_orderkey"), lit(7)) === 0, lit(null).cast("string"))
              .otherwise(col("o_orderpriority"))),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_totalprice", "prio_n"),
        maxDomain = 32),
      Some("""
        WITH d AS (
          SELECT o.*, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                           ELSE o_orderpriority END AS prio_n
          FROM orders o),
        fv AS (
          SELECT 'o_orderstatus' AS feature, CAST(o_orderstatus AS VARCHAR) AS value FROM d
          UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM d
          UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM d
          UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM d
          UNION ALL SELECT 'prio_n', CAST(prio_n AS VARCHAR) FROM d),
        pv AS (SELECT feature, value FROM fv WHERE value IS NOT NULL GROUP BY 1, 2),
        pf AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n_distinct,
                      CASE WHEN COUNT(*) <= 32
                           THEN string_agg(replace(replace(value, '\', '\\'),
                                                   '|', '\|'),
                                           '|' ORDER BY value) END AS domain
               FROM pv GROUP BY 1),
        base AS (
          SELECT 'o_orderstatus' AS feature, 'string' AS data_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_null,
                 CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val
          FROM d
          UNION ALL
          SELECT 'o_orderpriority', 'string', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT), NULL, NULL
          FROM d
          UNION ALL
          SELECT 'o_custkey', 'bigint', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
                 MIN(CAST(o_custkey AS DOUBLE)), MAX(CAST(o_custkey AS DOUBLE))
          FROM d
          UNION ALL
          SELECT 'o_totalprice', 'double', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
                 MIN(CAST(o_totalprice AS DOUBLE)), MAX(CAST(o_totalprice AS DOUBLE))
          FROM d
          UNION ALL
          SELECT 'prio_n', 'string', CAST(COUNT(*) AS BIGINT),
                 CAST(COUNT(*) - COUNT(prio_n) AS BIGINT), NULL, NULL
          FROM d)
        SELECT b.feature, b.data_type, b.n, b.n_null,
               COALESCE(pf.n_distinct, 0) AS n_distinct, b.min_val, b.max_val,
               CASE WHEN pf.n_distinct <= 32 THEN pf.domain END AS domain
        FROM base b LEFT JOIN pf ON pf.feature = b.feature""")),

    // TFDV ExampleValidator: schema inferred on a RESTRICTED baseline
    // (prices < 200k, '5-LOW' priority excluded, no NULLs), validated
    // against the full batch with synthesized NULL statuses — every
    // anomaly family fires deterministically: new_category ('5-LOW'),
    // out_of_range (prices past the baseline max), unexpected_null.
    QueryDef(
      "stats_validate_schema",
      (s, dir) => {
        import graft.ops.FeatureStats
        val orders = table(s, dir, "orders")
        val baseline = orders
          .filter(col("o_totalprice") < 200000 && col("o_orderpriority") =!= "5-LOW")
          .select("o_orderstatus", "o_orderpriority", "o_totalprice")
        val serving = orders
          .withColumn("o_orderstatus",
            when(pmod(col("o_orderkey"), lit(11)) === 0, lit(null).cast("string"))
              .otherwise(col("o_orderstatus")))
          .select("o_orderstatus", "o_orderpriority", "o_totalprice")
        FeatureStats.validateSchema(serving, FeatureStats.inferSchema(
          baseline, Seq("o_orderstatus", "o_orderpriority", "o_totalprice")))
      },
      Some("""
        WITH bl AS (
          SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders
          WHERE o_totalprice < 200000 AND o_orderpriority != '5-LOW'),
        sv AS (
          SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
                      ELSE o_orderstatus END AS o_orderstatus,
                 o_orderpriority, o_totalprice
          FROM orders),
        rng AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn,
                       MAX(CAST(o_totalprice AS DOUBLE)) AS mx FROM bl),
        sdom AS (SELECT string_agg(DISTINCT o_orderstatus, '|') AS ds FROM bl),
        pdom AS (SELECT string_agg(DISTINCT o_orderpriority, '|') AS ds FROM bl)
        SELECT 'o_orderpriority' AS feature, 'new_category' AS anomaly,
               CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT EXISTS (SELECT 1 FROM bl b
                                WHERE b.o_orderpriority = sv.o_orderpriority)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
               MIN(CASE WHEN o_orderpriority IS NOT NULL
                         AND NOT EXISTS (SELECT 1 FROM bl b
                           WHERE b.o_orderpriority = sv.o_orderpriority)
                        THEN o_orderpriority END) AS example
        FROM sv
        UNION ALL
        SELECT 'o_orderpriority', 'unexpected_null',
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL
        FROM sv
        UNION ALL
        SELECT 'o_orderstatus', 'new_category',
               CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                              AND NOT EXISTS (SELECT 1 FROM bl b
                                WHERE b.o_orderstatus = sv.o_orderstatus)
                             THEN 1 ELSE 0 END) AS BIGINT),
               MIN(CASE WHEN o_orderstatus IS NOT NULL
                         AND NOT EXISTS (SELECT 1 FROM bl b
                           WHERE b.o_orderstatus = sv.o_orderstatus)
                        THEN o_orderstatus END)
        FROM sv
        UNION ALL
        SELECT 'o_orderstatus', 'unexpected_null',
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL
        FROM sv
        UNION ALL
        SELECT 'o_totalprice', 'out_of_range',
               CAST(SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) < rng.mn
                              OR CAST(o_totalprice AS DOUBLE) > rng.mx
                             THEN 1 ELSE 0 END) AS BIGINT),
               MIN(CASE WHEN CAST(o_totalprice AS DOUBLE) < rng.mn
                         OR CAST(o_totalprice AS DOUBLE) > rng.mx
                        THEN CAST(o_totalprice AS VARCHAR) END)
        FROM sv, rng
        UNION ALL
        SELECT 'o_totalprice', 'unexpected_null',
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL
        FROM sv""")),

    // Per-slice schema validation (TFDV sliced validation): the same
    // anomaly pass grouped by o_orderstatus — a gate that passes
    // globally can still hide a slice whose rows are all bad, and
    // per-slice validation costs exactly one hash-agg on the slice
    // key. Anomalies injected: '5-LOW' priorities (new_category,
    // baseline excluded them), every-13th priority nulled
    // (unexpected_null), full price range (out_of_range beyond the
    // baseline's <200k envelope).
    QueryDef(
      "stats_validate_sliced",
      (s, dir) => {
        import graft.ops.FeatureStats
        val orders = table(s, dir, "orders")
        val baseline = orders
          .filter(col("o_totalprice") < 200000 && col("o_orderpriority") =!= "5-LOW")
          .select("o_orderpriority", "o_totalprice")
        val serving = orders
          .withColumn("o_orderpriority",
            when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null).cast("string"))
              .otherwise(col("o_orderpriority")))
          .select("o_orderstatus", "o_orderpriority", "o_totalprice")
        FeatureStats.validate(serving,
          FeatureStats.collectSchema(FeatureStats.inferSchema(
            baseline, Seq("o_orderpriority", "o_totalprice"))),
          slice = Some("o_orderstatus"))
      },
      Some("""
        WITH bl AS (
          SELECT o_orderpriority, o_totalprice FROM orders
          WHERE o_totalprice < 200000 AND o_orderpriority != '5-LOW'),
        sv AS (
          SELECT o_orderstatus AS slice,
                 CASE WHEN o_orderkey % 13 = 0 THEN NULL
                      ELSE o_orderpriority END AS o_orderpriority,
                 o_totalprice
          FROM orders WHERE o_orderstatus IS NOT NULL),
        rng AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS mn,
                       MAX(CAST(o_totalprice AS DOUBLE)) AS mx FROM bl)
        SELECT slice, 'o_orderpriority' AS feature, 'new_category' AS anomaly,
               CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                              AND NOT EXISTS (SELECT 1 FROM bl b
                                WHERE b.o_orderpriority = sv.o_orderpriority)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
               MIN(CASE WHEN o_orderpriority IS NOT NULL
                         AND NOT EXISTS (SELECT 1 FROM bl b
                           WHERE b.o_orderpriority = sv.o_orderpriority)
                        THEN o_orderpriority END) AS example
        FROM sv GROUP BY 1
        UNION ALL
        SELECT slice, 'o_orderpriority', 'unexpected_null',
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL
        FROM sv GROUP BY 1
        UNION ALL
        SELECT slice, 'o_totalprice', 'out_of_range',
               CAST(SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) < rng.mn
                              OR CAST(o_totalprice AS DOUBLE) > rng.mx
                             THEN 1 ELSE 0 END) AS BIGINT),
               MIN(CASE WHEN CAST(o_totalprice AS DOUBLE) < rng.mn
                         OR CAST(o_totalprice AS DOUBLE) > rng.mx
                        THEN CAST(o_totalprice AS VARCHAR) END)
        FROM sv, rng GROUP BY 1
        UNION ALL
        SELECT slice, 'o_totalprice', 'unexpected_null',
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               NULL
        FROM sv GROUP BY 1""")),

    // TFDV numeric drift: PSI + Jensen-Shannon between an early-window
    // baseline and the later window, equal-width bins from the
    // BASELINE range (later out-of-range values clamp into edge bins),
    // add-half smoothing, per-bin contributions rounded to 9 dp and
    // DECIMAL-summed (order-independent on both engines).
    QueryDef(
      "stats_drift_psi",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        graft.ops.FeatureStats.driftCheck(
          li.filter(col("l_shipdate") < cut),
          li.filter(col("l_shipdate") >= cut),
          "l_extendedprice", nBins = 10)
      },
      Some("""
        WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        rng AS (SELECT MIN(x) AS mn, MAX(x) AS mx,
                       (MAX(x) - MIN(x)) / 10.0 AS w FROM b),
        bb AS (SELECT least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM b, rng GROUP BY 1),
        cb AS (SELECT least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM c, rng GROUP BY 1),
        bins AS (SELECT unnest(range(0, 10)) AS bin),
        j AS (SELECT bins.bin, COALESCE(bb.n, 0) AS n_b, COALESCE(cb.n, 0) AS n_q
              FROM bins LEFT JOIN bb ON bb.bin = bins.bin
                        LEFT JOIN cb ON cb.bin = bins.bin),
        t AS (SELECT SUM(n_b) AS tb, SUM(n_q) AS tq FROM j),
        contrib AS (
          SELECT (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + 5.0) AS p,
                 (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + 5.0) AS q
          FROM j, t)
        SELECT 'l_extendedprice' AS feature,
               (SELECT CAST(tb AS BIGINT) FROM t) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t) AS n_cur,
               (SELECT mn FROM rng) AS bin_min, (SELECT mx FROM rng) AS bin_max,
               CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi,
               CAST(SUM(CAST(round(p * ln(p / ((p + q) / 2.0)) / 2.0 +
                                   q * ln(q / ((p + q) / 2.0)) / 2.0, 9)
                        AS DECIMAL(28,9))) AS DOUBLE) AS js_div
        FROM contrib""")),

    // The fit-once/serve-many drift path: fitDrift collects the
    // baseline's nBins bin counts as driver metadata, scoreDrift scores
    // the later window against them as literals — driftCheck IS this
    // composition, so this query shares stats_drift_psi's exact SQL
    // mirror. This is also the per-batch arithmetic of
    // StreamingOps.driftStream.
    QueryDef(
      "stats_drift_serve",
      (s, dir) => {
        import graft.ops.FeatureStats
        val li = table(s, dir, "lineitem")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        FeatureStats.scoreDrift(
          FeatureStats.fitDrift(li.filter(col("l_shipdate") < cut),
            "l_extendedprice", FeatureStats.Binning.EqualWidth(10)),
          li.filter(col("l_shipdate") >= cut))
      },
      Some("""
        WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        rng AS (SELECT MIN(x) AS mn, MAX(x) AS mx,
                       (MAX(x) - MIN(x)) / 10.0 AS w FROM b),
        bb AS (SELECT least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM b, rng GROUP BY 1),
        cb AS (SELECT least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM c, rng GROUP BY 1),
        bins AS (SELECT unnest(range(0, 10)) AS bin),
        j AS (SELECT bins.bin, COALESCE(bb.n, 0) AS n_b, COALESCE(cb.n, 0) AS n_q
              FROM bins LEFT JOIN bb ON bb.bin = bins.bin
                        LEFT JOIN cb ON cb.bin = bins.bin),
        t AS (SELECT SUM(n_b) AS tb, SUM(n_q) AS tq FROM j),
        contrib AS (
          SELECT (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + 5.0) AS p,
                 (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + 5.0) AS q
          FROM j, t)
        SELECT 'l_extendedprice' AS feature,
               (SELECT CAST(tb AS BIGINT) FROM t) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t) AS n_cur,
               (SELECT mn FROM rng) AS bin_min, (SELECT mx FROM rng) AS bin_max,
               CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi,
               CAST(SUM(CAST(round(p * ln(p / ((p + q) / 2.0)) / 2.0 +
                                   q * ln(q / ((p + q) / 2.0)) / 2.0, 9)
                        AS DECIMAL(28,9))) AS DOUBLE) AS js_div
        FROM contrib""")),

    // Equal-MASS drift bins — the geometry TFDV's comparator actually
    // uses: interior quantile edges from the BASELINE (exact percentile
    // here, the oracle-able mode; the KLL-sketch fit is the 100 TB
    // mode, spec-held to agree), 9-dp-rounded on both engines so
    // interpolation ulps cannot flip a bucket, then the same add-half
    // smoothing + 9-dp DECIMAL-summed PSI/JS reduction as
    // stats_drift_psi.
    QueryDef(
      "stats_drift_quantile",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        import graft.ops.FeatureStats
        val model = FeatureStats.fitDrift(
          li.filter(col("l_shipdate") < cut), "l_extendedprice",
          FeatureStats.Binning.Quantile(10, exact = true))
        FeatureStats.scoreDrift(model, li.filter(col("l_shipdate") >= cut))
      },
      Some("""
        WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        e AS (SELECT list_transform(
                       quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                       v -> CAST(CAST(v AS DECIMAL(28,9)) AS DOUBLE)) AS edges
              FROM b),
        bb AS (SELECT len(list_filter(e.edges, ed -> b.x >= ed)) AS bin,
                      COUNT(*) AS n FROM b, e GROUP BY 1),
        cb AS (SELECT len(list_filter(e.edges, ed -> c.x >= ed)) AS bin,
                      COUNT(*) AS n FROM c, e GROUP BY 1),
        bins AS (SELECT unnest(range(0, 10)) AS bin),
        j AS (SELECT bins.bin, COALESCE(bb.n, 0) AS n_b, COALESCE(cb.n, 0) AS n_q
              FROM bins LEFT JOIN bb ON bb.bin = bins.bin
                        LEFT JOIN cb ON cb.bin = bins.bin),
        t AS (SELECT SUM(n_b) AS tb, SUM(n_q) AS tq FROM j),
        contrib AS (
          SELECT (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + 5.0) AS p,
                 (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + 5.0) AS q
          FROM j, t)
        SELECT 'l_extendedprice' AS feature,
               (SELECT CAST(tb AS BIGINT) FROM t) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t) AS n_cur,
               (SELECT edges[1] FROM e) AS bin_min,
               (SELECT edges[9] FROM e) AS bin_max,
               CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi,
               CAST(SUM(CAST(round(p * ln(p / ((p + q) / 2.0)) / 2.0 +
                                   q * ln(q / ((p + q) / 2.0)) / 2.0, 9)
                        AS DECIMAL(28,9))) AS DOUBLE) AS js_div
        FROM contrib""")),

    // Per-slice drift (TFDV sliced statistics): global bin geometry
    // fit on the FULL baseline (PSI comparable across slices),
    // per-slice counts so each slice drifts against its own history —
    // lineitem sliced by l_returnflag across the same date cut. Same
    // smoothing + 9-dp DECIMAL reduction, applied slice-wise.
    QueryDef(
      "stats_drift_sliced",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        import graft.ops.FeatureStats
        val model = FeatureStats.fitDrift(
          li.filter(col("l_shipdate") < cut), "l_extendedprice",
          FeatureStats.Binning.EqualWidth(10), slice = Some("l_returnflag"))
        FeatureStats.scoreDrift(model, li.filter(col("l_shipdate") >= cut))
      },
      Some("""
        WITH b AS (SELECT l_returnflag AS slice, CAST(l_extendedprice AS DOUBLE) AS x
                   FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1997-01-01'
                     AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        c AS (SELECT l_returnflag AS slice, CAST(l_extendedprice AS DOUBLE) AS x
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        rng AS (SELECT MIN(x) AS mn, MAX(x) AS mx,
                       (MAX(x) - MIN(x)) / 10.0 AS w FROM b),
        bb AS (SELECT slice,
                      least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM b, rng GROUP BY 1, 2),
        cb AS (SELECT slice,
                      least(9, greatest(0, CAST(floor((x - rng.mn) / rng.w) AS INTEGER))) AS bin,
                      COUNT(*) AS n FROM c, rng GROUP BY 1, 2),
        sl AS (SELECT DISTINCT slice FROM b),
        bins AS (SELECT sl.slice, unnest(range(0, 10)) AS bin FROM sl),
        j AS (SELECT bins.slice, bins.bin, COALESCE(bb.n, 0) AS n_b, COALESCE(cb.n, 0) AS n_q
              FROM bins LEFT JOIN bb ON bb.slice = bins.slice AND bb.bin = bins.bin
                        LEFT JOIN cb ON cb.slice = bins.slice AND cb.bin = bins.bin),
        t AS (SELECT slice, SUM(n_b) AS tb, SUM(n_q) AS tq FROM j GROUP BY 1),
        contrib AS (
          SELECT j.slice,
                 (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + 5.0) AS p,
                 (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + 5.0) AS q
          FROM j JOIN t ON t.slice = j.slice)
        SELECT 'l_extendedprice' AS feature, contrib.slice,
               (SELECT CAST(tb AS BIGINT) FROM t WHERE t.slice = contrib.slice) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t WHERE t.slice = contrib.slice) AS n_cur,
               CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi,
               CAST(SUM(CAST(round(p * ln(p / ((p + q) / 2.0)) / 2.0 +
                                   q * ln(q / ((p + q) / 2.0)) / 2.0, 9)
                        AS DECIMAL(28,9))) AS DOUBLE) AS js_div
        FROM contrib
        GROUP BY contrib.slice""")),

    // Per-slice EQUAL-MASS drift — the two round-8 drift geometries
    // composed: global quantile edges fit ONCE on the full baseline
    // (exact-percentile oracle mode; the KLL fit is the 100 TB mode,
    // spec-held to agree) so sliced PSI gets TFDV's default bucket
    // geometry too, per-slice bucket counts so each slice drifts
    // against its own history. Same smoothing + 9-dp DECIMAL
    // reduction, applied slice-wise.
    QueryDef(
      "stats_drift_sliced_quantile",
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        import graft.ops.FeatureStats
        val model = FeatureStats.fitDrift(
          li.filter(col("l_shipdate") < cut), "l_extendedprice",
          FeatureStats.Binning.Quantile(10, exact = true),
          slice = Some("l_returnflag"))
        FeatureStats.scoreDrift(model, li.filter(col("l_shipdate") >= cut))
      },
      Some("""
        WITH b AS (SELECT l_returnflag AS slice, CAST(l_extendedprice AS DOUBLE) AS x
                   FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1997-01-01'
                     AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        c AS (SELECT l_returnflag AS slice, CAST(l_extendedprice AS DOUBLE) AS x
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        eb AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
               WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_extendedprice IS NOT NULL),
        e AS (SELECT list_transform(
                       quantile_cont(x, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                       v -> CAST(CAST(v AS DECIMAL(28,9)) AS DOUBLE)) AS edges
              FROM eb),
        bb AS (SELECT slice, len(list_filter(e.edges, ed -> b.x >= ed)) AS bin,
                      COUNT(*) AS n FROM b, e GROUP BY 1, 2),
        cb AS (SELECT slice, len(list_filter(e.edges, ed -> c.x >= ed)) AS bin,
                      COUNT(*) AS n FROM c, e GROUP BY 1, 2),
        sl AS (SELECT DISTINCT slice FROM b),
        bins AS (SELECT sl.slice, unnest(range(0, 10)) AS bin FROM sl),
        j AS (SELECT bins.slice, bins.bin, COALESCE(bb.n, 0) AS n_b, COALESCE(cb.n, 0) AS n_q
              FROM bins LEFT JOIN bb ON bb.slice = bins.slice AND bb.bin = bins.bin
                        LEFT JOIN cb ON cb.slice = bins.slice AND cb.bin = bins.bin),
        t AS (SELECT slice, SUM(n_b) AS tb, SUM(n_q) AS tq FROM j GROUP BY 1),
        contrib AS (
          SELECT j.slice,
                 (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + 5.0) AS p,
                 (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + 5.0) AS q
          FROM j JOIN t ON t.slice = j.slice)
        SELECT 'l_extendedprice' AS feature, contrib.slice,
               (SELECT CAST(tb AS BIGINT) FROM t WHERE t.slice = contrib.slice) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t WHERE t.slice = contrib.slice) AS n_cur,
               CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9))) AS DOUBLE) AS psi,
               CAST(SUM(CAST(round(p * ln(p / ((p + q) / 2.0)) / 2.0 +
                                   q * ln(q / ((p + q) / 2.0)) / 2.0, 9)
                        AS DECIMAL(28,9))) AS DOUBLE) AS js_div
        FROM contrib
        GROUP BY contrib.slice""")),

    // Per-slice CATEGORICAL drift (TFDV sliced statistics, L∞
    // comparator): per-slice value-space union, per-slice add-half
    // smoothing over that slice's union size, max-gap value with
    // lexicographic tie-break — orders' o_orderpriority sliced by
    // o_orderstatus across the date cut. Fully distributed (window
    // totals and argmax); mirrors the unsliced categoricalDrift
    // slice-for-slice (spec-pinned).
    QueryDef(
      "stats_drift_categorical_sliced",
      (s, dir) => {
        val ord = table(s, dir, "orders")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        graft.ops.FeatureStats.categoricalDrift(
          ord.filter(col("o_orderdate") < cut),
          ord.filter(col("o_orderdate") >= cut),
          "o_orderpriority", slice = Some("o_orderstatus"))
      },
      Some("""
        WITH b AS (SELECT o_orderstatus AS slice, CAST(o_orderpriority AS VARCHAR) AS v
                   FROM orders
                   WHERE o_orderdate < TIMESTAMP '1997-01-01'
                     AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        c AS (SELECT o_orderstatus AS slice, CAST(o_orderpriority AS VARCHAR) AS v
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                AND o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        bc AS (SELECT slice, v, COUNT(*) AS n FROM b GROUP BY 1, 2),
        cc AS (SELECT slice, v, COUNT(*) AS n FROM c GROUP BY 1, 2),
        j AS (SELECT COALESCE(bc.slice, cc.slice) AS slice,
                     COALESCE(bc.v, cc.v) AS value,
                     COALESCE(bc.n, 0) AS n_b, COALESCE(cc.n, 0) AS n_q
              FROM bc FULL OUTER JOIN cc
                ON bc.slice = cc.slice AND bc.v = cc.v),
        t AS (SELECT slice, SUM(n_b) AS tb, SUM(n_q) AS tq, COUNT(*) AS nv
              FROM j GROUP BY 1 HAVING SUM(n_b) > 0),
        g AS (SELECT j.slice, j.value,
                     abs(CAST(n_b AS DOUBLE) / t.tb -
                         CASE WHEN t.tq > 0 THEN CAST(n_q AS DOUBLE) / t.tq
                              ELSE 0.0 END) AS gap,
                     (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + t.nv * 0.5) AS ps,
                     (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + t.nv * 0.5) AS qs,
                     t.tb, t.tq, t.nv
              FROM j JOIN t ON t.slice = j.slice),
        m AS (SELECT slice, MAX(gap) AS linf,
                     CAST(SUM(CAST(round((ps - qs) * ln(ps / qs), 9)
                              AS DECIMAL(28,9))) AS DOUBLE) AS psi,
                     CAST(MAX(tb) AS BIGINT) AS n_base,
                     CAST(MAX(tq) AS BIGINT) AS n_cur,
                     CAST(MAX(nv) AS BIGINT) AS n_values
              FROM g GROUP BY 1)
        SELECT 'o_orderpriority' AS feature, m.slice, m.n_base, m.n_cur,
               m.n_values, m.linf, m.psi,
               (SELECT MIN(g.value) FROM g
                WHERE g.slice = m.slice AND g.gap = m.linf) AS example_value
        FROM m""")),

    // Schema evolution diff: a reference schema inferred on a
    // RESTRICTED baseline (prices < 200k, no '5-LOW', with the date
    // column) vs a candidate inferred on the full batch with
    // synthesized changes — every change kind fires deterministically:
    // removed (o_orderdate), added (prio2), type_changed (o_custkey
    // cast to string), null_introduced (statuses nulled every 11th),
    // domain_new_values ('5-LOW' reappears), range_widened (prices
    // past the baseline envelope). The oracle recomputes the
    // data-dependent rows from the raw tables.
    QueryDef(
      "stats_schema_diff",
      (s, dir) => {
        import graft.ops.FeatureStats
        val orders = table(s, dir, "orders")
        val ref = FeatureStats.inferSchema(
          orders.filter(col("o_totalprice") < 200000 &&
            col("o_orderpriority") =!= "5-LOW"),
          Seq("o_orderstatus", "o_orderpriority", "o_totalprice",
            "o_custkey", "o_orderdate"))
        val cand = FeatureStats.inferSchema(
          orders
            .withColumn("o_orderstatus",
              when(pmod(col("o_orderkey"), lit(11)) === 0,
                lit(null).cast("string")).otherwise(col("o_orderstatus")))
            .withColumn("o_custkey", col("o_custkey").cast("string"))
            .withColumn("prio2", col("o_orderpriority")),
          Seq("o_orderstatus", "o_orderpriority", "o_totalprice",
            "o_custkey", "prio2"))
        FeatureStats.diffSchemas(ref, cand)
      },
      Some("""
        WITH r AS (SELECT * FROM orders
                   WHERE o_totalprice < 200000 AND o_orderpriority != '5-LOW'),
        newdom AS (
          SELECT string_agg(v, '|' ORDER BY v) AS vs FROM (
            SELECT DISTINCT o_orderpriority AS v FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND o_orderpriority NOT IN (SELECT DISTINCT o_orderpriority FROM r))),
        rng AS (SELECT
            (SELECT MIN(CAST(o_totalprice AS DOUBLE)) FROM orders) <
              (SELECT MIN(CAST(o_totalprice AS DOUBLE)) FROM r) AS wmin,
            (SELECT MAX(CAST(o_totalprice AS DOUBLE)) FROM orders) >
              (SELECT MAX(CAST(o_totalprice AS DOUBLE)) FROM r) AS wmax)
        SELECT 'o_orderdate' AS feature, 'removed' AS change,
               'timestamp' AS detail
        UNION ALL
        SELECT 'prio2', 'added', 'string'
        UNION ALL
        SELECT 'o_custkey', 'type_changed', 'bigint -> string'
        UNION ALL
        SELECT 'o_orderstatus', 'null_introduced',
               CAST(CAST(SUM(CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', 'domain_new_values', vs FROM newdom
        WHERE vs IS NOT NULL
        UNION ALL
        SELECT 'o_totalprice', 'range_widened',
               concat_ws(',', CASE WHEN wmin THEN 'min' END,
                              CASE WHEN wmax THEN 'max' END)
        FROM rng WHERE wmin OR wmax""")),




    // Categorical drift (TFDV's L-infinity comparator): priority
    // distribution of early vs late orders, with a deterministic mass
    // shift synthesized into the late window (every fourth order
    // remapped to 1-URGENT) so the drift statistic is meaningfully
    // nonzero. linf, smoothed PSI over the value space, and the
    // smallest value attaining the max gap — all exactly mirrored.
    QueryDef(
      "stats_drift_categorical",
      (s, dir) => {
        val ord = table(s, dir, "orders")
        val cut = lit("1997-01-01 00:00:00").cast("timestamp")
        graft.ops.FeatureStats.categoricalDrift(
          ord.filter(col("o_orderdate") < cut),
          ord.filter(col("o_orderdate") >= cut)
            .withColumn("o_orderpriority",
              when(pmod(col("o_orderkey"), lit(4)) === 0, lit("1-URGENT"))
                .otherwise(col("o_orderpriority"))),
          "o_orderpriority")
      },
      Some("""
        WITH b AS (SELECT CAST(o_orderpriority AS VARCHAR) AS v FROM orders
                   WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderpriority IS NOT NULL),
        c AS (SELECT CASE WHEN o_orderkey % 4 = 0 THEN '1-URGENT'
                          ELSE CAST(o_orderpriority AS VARCHAR) END AS v
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderpriority IS NOT NULL),
        bc AS (SELECT v, COUNT(*) AS n FROM b GROUP BY 1),
        cc AS (SELECT v, COUNT(*) AS n FROM c GROUP BY 1),
        j AS (SELECT COALESCE(bc.v, cc.v) AS value,
                     COALESCE(bc.n, 0) AS n_b, COALESCE(cc.n, 0) AS n_q
              FROM bc FULL OUTER JOIN cc ON bc.v = cc.v),
        t AS (SELECT SUM(n_b) AS tb, SUM(n_q) AS tq, COUNT(*) AS nv FROM j),
        g AS (SELECT value,
                     abs(CAST(n_b AS DOUBLE) / t.tb - CAST(n_q AS DOUBLE) / t.tq) AS gap,
                     (CAST(n_b AS DOUBLE) + 0.5) / (t.tb + t.nv * 0.5) AS ps,
                     (CAST(n_q AS DOUBLE) + 0.5) / (t.tq + t.nv * 0.5) AS qs
              FROM j, t),
        m AS (SELECT MAX(gap) AS linf,
                     CAST(SUM(CAST(round((ps - qs) * ln(ps / qs), 9)
                              AS DECIMAL(28,9))) AS DOUBLE) AS psi
              FROM g)
        SELECT 'o_orderpriority' AS feature,
               (SELECT CAST(tb AS BIGINT) FROM t) AS n_base,
               (SELECT CAST(tq AS BIGINT) FROM t) AS n_cur,
               (SELECT CAST(nv AS BIGINT) FROM t) AS n_values,
               (SELECT linf FROM m) AS linf,
               (SELECT psi FROM m) AS psi,
               MIN(CASE WHEN g.gap = (SELECT linf FROM m) THEN g.value END) AS example_value
        FROM g""")),

    // Mergeable quantile profiles: two disjoint hash-shards sketched
    // with KLL (k=400), merged, and read at three probabilities; the
    // invariant surface (q16/ANN-recall style) is the REALIZED RANK of
    // each estimate, computed in-query against the full column — it
    // must sit within ±0.05 of the requested probability (KLL k=400
    // rank error ≈ 0.9% at 99% conf; the margin also covers the value
    // mass of discrete-ish columns). The oracle pins the exact ranks'
    // validity as literal booleans plus the exact row counts.
    QueryDef(
      "stats_profile_quantiles",
      (s, dir) => {
        import graft.ops.FeatureStats
        val li = table(s, dir, "lineitem")
        val cols = Seq("l_extendedprice", "l_partkey")
        val shards = Seq(
          li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) < 50),
          li.filter(graft.ops.Sampling.hashBucket(col("l_orderkey")) >= 50))
          .map(FeatureStats.profileQuantiles(_, cols, k = 400))
        val est = FeatureStats.estimateQuantiles(
          FeatureStats.mergeQuantileProfiles(shards), Seq(0.25, 0.5, 0.9))
        val data = li.select(explode(array(cols.map(c =>
            struct(lit(c).as("feature"), col(c).cast("double").as("x"))): _*)).as("d"))
          .select("d.*").filter(col("x").isNotNull)
        data.join(broadcast(est), Seq("feature"))
          .groupBy(col("feature"), col("prob"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("x") <= col("quantile_est"), 1L).otherwise(0L)).as("n_le"))
          .select(col("feature"), col("prob"), col("n"),
            (abs(col("n_le").cast("double") / col("n").cast("double") - col("prob"))
              <= 0.05).as("rank_ok"))
      },
      Some("""
        SELECT 'l_extendedprice' AS feature, p AS prob,
               (SELECT CAST(COUNT(l_extendedprice) AS BIGINT) FROM lineitem) AS n,
               true AS rank_ok
        FROM (SELECT unnest([0.25, 0.5, 0.9]) AS p)
        UNION ALL
        SELECT 'l_partkey', p,
               (SELECT CAST(COUNT(l_partkey) AS BIGINT) FROM lineitem), true
        FROM (SELECT unnest([0.25, 0.5, 0.9]) AS p)""")),

    // Deequ-style key-uniqueness audit: the composite lineitem key is
    // unique, the bare orderkey is not, and a synthesized NULL-bearing
    // key exercises the NULL-opt-out path — one row per checked key.
    QueryDef(
      "check_uniqueness",
      (s, dir) => {
        import graft.ops.Constraints
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
          .withColumn("ck_n",
            when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null).cast("long"))
              .otherwise(col("o_custkey")))
        Constraints.uniqueness(li, Seq("l_orderkey", "l_linenumber"))
          .unionByName(Constraints.uniqueness(li, Seq("l_orderkey")))
          .unionByName(Constraints.uniqueness(ord, Seq("ck_n")))
      },
      Some("""
        WITH u1 AS (
          SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) AS k,
                 COUNT(*) AS n
          FROM lineitem WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
          GROUP BY l_orderkey, l_linenumber),
        u2 AS (
          SELECT CAST(l_orderkey AS VARCHAR) AS k, COUNT(*) AS n
          FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey),
        o AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS ck_n
              FROM orders),
        u3 AS (
          SELECT CAST(ck_n AS VARCHAR) AS k, COUNT(*) AS n
          FROM o WHERE ck_n IS NOT NULL GROUP BY ck_n)
        SELECT 'l_orderkey|l_linenumber' AS key_cols,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               (SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem) AS n_null_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
               CAST(SUM(n - 1) AS BIGINT) AS n_dup_rows,
               SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0 AS is_unique,
               MIN(CASE WHEN n > 1 THEN k END) AS example_dup_key
        FROM u1
        UNION ALL
        SELECT 'l_orderkey', CAST(SUM(n) AS BIGINT),
               (SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                FROM lineitem),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(n - 1) AS BIGINT),
               SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0,
               MIN(CASE WHEN n > 1 THEN k END)
        FROM u2
        UNION ALL
        SELECT 'ck_n', CAST(SUM(n) AS BIGINT),
               (SELECT CAST(SUM(CASE WHEN ck_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM o),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(n - 1) AS BIGINT),
               SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0,
               MIN(CASE WHEN n > 1 THEN k END)
        FROM u3""")),

    // Referential integrity: lineitem->orders holds; orders->a
    // deterministically thinned customer table does not (every tenth
    // custkey removed from the parent), with synthesized NULL child
    // keys opting out per SQL FK semantics.
    QueryDef(
      "check_ref_integrity",
      (s, dir) => {
        import graft.ops.Constraints
        val li = table(s, dir, "lineitem")
        val ord = table(s, dir, "orders")
        val cust = table(s, dir, "customer")
        val ordN = ord.withColumn("ck_n",
          when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null).cast("long"))
            .otherwise(col("o_custkey")))
        Constraints.referentialIntegrity(
            li, Seq("l_orderkey"), ord, Seq("o_orderkey"))
          .unionByName(Constraints.referentialIntegrity(
            ordN, Seq("ck_n"),
            cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0), Seq("c_custkey")))
      },
      Some("""
        WITH lk AS (SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem
                    WHERE l_orderkey IS NOT NULL GROUP BY 1),
        orph1 AS (SELECT k, n FROM lk
                  WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = lk.k)),
        o AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_custkey END AS ck_n
              FROM orders),
        ok2 AS (SELECT ck_n AS k, COUNT(*) AS n FROM o WHERE ck_n IS NOT NULL GROUP BY 1),
        par2 AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 10 != 0),
        orph2 AS (SELECT k, n FROM ok2
                  WHERE NOT EXISTS (SELECT 1 FROM par2 p WHERE p.k = ok2.k))
        SELECT 'l_orderkey' AS key_cols,
               (SELECT CAST(COUNT(l_orderkey) AS BIGINT) FROM lineitem) AS n_child_rows,
               (SELECT CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                FROM lineitem) AS n_null_rows,
               CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_orphan_rows,
               CAST(COUNT(*) AS BIGINT) AS n_orphan_keys,
               COALESCE(SUM(n), 0) = 0 AS is_valid,
               MIN(CAST(k AS VARCHAR)) AS example_orphan_key
        FROM orph1
        UNION ALL
        SELECT 'ck_n',
               (SELECT CAST(COUNT(ck_n) AS BIGINT) FROM o),
               (SELECT CAST(SUM(CASE WHEN ck_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM o),
               CAST(COALESCE(SUM(n), 0) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COALESCE(SUM(n), 0) = 0,
               MIN(CAST(k AS VARCHAR))
        FROM orph2""")),

    // Functional dependencies: the key determines its row
    // (o_orderkey -> o_orderstatus holds); a customer places many
    // orders in many states (o_custkey -> o_orderstatus violated).
    QueryDef(
      "check_fd",
      (s, dir) => {
        import graft.ops.Constraints
        val ord = table(s, dir, "orders")
        Constraints.functionalDependency(ord, Seq("o_orderkey"), Seq("o_orderstatus"))
          .unionByName(
            Constraints.functionalDependency(ord, Seq("o_custkey"), Seq("o_orderstatus")))
      },
      Some("""
        WITH p1 AS (SELECT o_orderkey AS k, COUNT(DISTINCT o_orderstatus) AS n_rhs,
                           COUNT(*) AS n_rows
                    FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        p2 AS (SELECT o_custkey AS k, COUNT(DISTINCT o_orderstatus) AS n_rhs,
                      COUNT(*) AS n_rows
               FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1)
        SELECT 'o_orderkey->o_orderstatus' AS dependency,
               CAST(COUNT(*) AS BIGINT) AS n_lhs,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_lhs,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT) AS n_violating_rows,
               SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds,
               MIN(CASE WHEN n_rhs > 1 THEN CAST(k AS VARCHAR) END) AS example_violating_key
        FROM p1
        UNION ALL
        SELECT 'o_custkey->o_orderstatus', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(CASE WHEN n_rhs > 1 THEN n_rows ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0,
               MIN(CASE WHEN n_rhs > 1 THEN CAST(k AS VARCHAR) END)
        FROM p2""")),

    QueryDef(
      "transform_zscore",
      (s, dir) => graft.ops.FeatureStats.zscore(
        table(s, dir, "orders"), "o_orderkey", "o_totalprice"),
      Some("""
        WITH s AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS sx,
                 SUM(CAST(o_totalprice AS DECIMAL(28,6)) *
                     CAST(o_totalprice AS DECIMAL(28,6))) AS sxx
          FROM orders WHERE o_totalprice IS NOT NULL)
        SELECT o.o_orderkey, o.o_totalprice,
               CASE WHEN o.o_totalprice IS NOT NULL
                     AND (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
                          CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) > 0
                    THEN (CAST(o.o_totalprice AS DOUBLE) -
                          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
                         sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
                               CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
               END AS z
        FROM orders o, s""")),

    // Cross-feature Pearson correlation from exact DECIMAL co-moments
    // (partition-invariant, unlike streaming-double corr()).
    QueryDef(
      "feature_corr",
      (s, dir) => graft.ops.FeatureStats.pearson(
        table(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
      Some("""
        WITH m AS (
          SELECT COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
                 SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
                 SUM(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy,
                 SUM(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxx,
                 SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
        SELECT n,
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
               sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                     CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
        FROM m""")),

    // ExampleValidator's skew gate: per-feature mean / missing-rate
    // drift between a deterministic 80/20 train-eval split.
    QueryDef(
      "skew_check",
      (s, dir) => {
        val orders = table(s, dir, "orders")
        val h = graft.ops.Sampling.hashBucket(col("o_orderkey"))
        graft.ops.FeatureStats.skewCheck(
          orders.filter(h < 80), orders.filter(h >= 80),
          numericCols = Seq("o_totalprice", "o_custkey"),
          stringCols = Seq("o_orderstatus"))
      },
      Some("""
        WITH h AS (
          SELECT *, ((((o_orderkey % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 AS hb
          FROM orders),
        sa AS (
          SELECT 'o_totalprice' AS feature,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   / CAST(COUNT(o_totalprice) AS DOUBLE) AS mean_a,
                 CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS miss_a
          FROM h WHERE hb < 80
          UNION ALL
          SELECT 'o_custkey',
                 CAST(SUM(CAST(o_custkey AS DECIMAL(28,6))) AS DOUBLE)
                   / CAST(COUNT(o_custkey) AS DOUBLE),
                 CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM h WHERE hb < 80
          UNION ALL
          SELECT 'o_orderstatus', CAST(NULL AS DOUBLE),
                 CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM h WHERE hb < 80),
        sb AS (
          SELECT 'o_totalprice' AS feature,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   / CAST(COUNT(o_totalprice) AS DOUBLE) AS mean_b,
                 CAST(COUNT(*) - COUNT(o_totalprice) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS miss_b
          FROM h WHERE hb >= 80
          UNION ALL
          SELECT 'o_custkey',
                 CAST(SUM(CAST(o_custkey AS DECIMAL(28,6))) AS DOUBLE)
                   / CAST(COUNT(o_custkey) AS DOUBLE),
                 CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM h WHERE hb >= 80
          UNION ALL
          SELECT 'o_orderstatus', CAST(NULL AS DOUBLE),
                 CAST(COUNT(*) - COUNT(o_orderstatus) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          FROM h WHERE hb >= 80)
        SELECT sa.feature, mean_a, miss_a, mean_b, miss_b,
               CASE WHEN mean_a IS NOT NULL AND mean_b IS NOT NULL
                    THEN abs(mean_a - mean_b) > 0.1 * greatest(abs(mean_a), abs(mean_b))
                    ELSE false END AS mean_drift,
               abs(miss_a - miss_b) > 0.01 AS miss_drift
        FROM sa JOIN sb ON sa.feature = sb.feature"""))
  )
}
