package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LanguageModel, Multimodal, Similarity, TextOps}

/** North-star LLM-data-pipeline operators as verifiable queries over
  * the `documents` and `embeddings` tables: dedup (exact / MinHash-LSH /
  * SimHash / n-gram Jaccard), similarity search (brute-force + LSH),
  * text analysis (stats, language ID, fingerprints), multimodal
  * metadata extraction, and a streaming-shaped event windowing.
  *
  * Every query carries an exact SQL value oracle. Operators whose
  * production hash (xxhash64) has no DuckDB equivalent run here in
  * engine-portable md5-seeded modes — identical relational machinery,
  * reproducible hashes — and sketch/ANN estimators are checked through
  * exact invariants (error bounds, recall over a portable sample).
  */
object PipelineQueries {
  import QueryDef.table

  /** DuckDB sign-LSH bucket expression over column `v`, built from the
    * operator's own deterministic [[Similarity.planeWeights]] so both
    * engines bucket with bit-identical hyperplanes (weights are exact
    * integers — no float-literal round-trip error). */
  private def bucketSql(tableIdx: Int, nPlanes: Int, dim: Int): String =
    (0 until nPlanes).map { p =>
      val ws = Similarity.planeWeights(tableIdx * nPlanes + p, dim)
        .map(_.toLong.toString).mkString(", ")
      s"(CASE WHEN list_dot_product(v, CAST([$ws] AS DOUBLE[])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val Stopwords = Seq("the", "a")
  private val LangMarkers = Seq(
    "en" -> Seq("the", "a", "and", "of"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "et", "de"),
    "es" -> Seq("el", "la", "y", "de"))

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "dedup_exact",
      (s, dir) => Dedup.exact(table(s, dir, "documents"), "doc_id", "text"),
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
               MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM documents GROUP BY 1""")),

    // Incremental exact dedup: the even-id half is the persisted
    // index, the odd-id half the ingest batch. First-seen-wins:
    // arrivals hashing into the index point at the historical
    // survivor; within-batch repeats point at the batch min id; fresh
    // content survives (dup_of NULL). The streaming twin
    // (exactDedupStream) shares this code path.
    QueryDef(
      "dedup_exact_incremental",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.exactAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.exact(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
          "doc_id", "text")
      },
      Some(ExactIncrementalSql)),

    // The SAME incremental exact serve through the persisted
    // HASH-PARTITIONED index (saveExactIndexPartitioned → parquet
    // round trip → exactAgainst(index)): the arrival batch's content-
    // hash bucket set prunes index partitions statically, the LEFT
    // join still classifies unmatched arrivals as survivors. Shares
    // dedup_exact_incremental's oracle SQL VERBATIM — layout may only
    // change which files are read, never a row.
    QueryDef(
      "dedup_exact_serve",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-exact-part-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Dedup.saveExactIndexPartitioned(
          Dedup.exact(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
          path, nHashBuckets = 16)
        Dedup.exactAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.loadExactIndexPartitioned(s, path),
          "doc_id", "text")
      },
      Some(ExactIncrementalSql)),

    // Append-composability law of the exact index: merging the two
    // halves' indexes is ROW-IDENTICAL to indexing the whole corpus —
    // the oracle is dedup_exact's SQL verbatim (the pit_manyviews_fused
    // trick: strongest possible parity pin).
    QueryDef(
      "dedup_exact_merged",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.mergeExactIndexes(Seq(
          Dedup.exact(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"),
          Dedup.exact(docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")))
      },
      Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_hash,
               MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
        FROM documents GROUP BY 1""")),

    // Typo-level near-dups: equi-join blocking on the 16-char normalized
    // prefix, banded thresholded levenshtein on 80-char prefixes, block
    // cap 50 (a hotter block is boilerplate, same guard as stop-shingles).
    QueryDef(
      "dedup_fuzzy",
      (s, dir) => Dedup.fuzzyLevenshtein(
        table(s, dir, "documents"), "doc_id", "text",
        blockChars = 16, compareChars = 80, maxDist = 20, maxBlock = 50),
      Some("""
        WITH d AS (
          SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
          FROM documents),
        b0 AS (
          SELECT doc_id AS id, substring(t, 1, 16) AS blk, substring(t, 1, 80) AS pfx
          FROM d),
        caps AS (SELECT blk FROM b0 GROUP BY blk HAVING COUNT(*) <= 50),
        b AS (SELECT b0.* FROM b0 JOIN caps USING (blk))
        SELECT x.id AS id_a, y.id AS id_b,
               CAST(levenshtein(x.pfx, y.pfx) AS INT) AS dist
        FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
        WHERE levenshtein(x.pfx, y.pfx) <= 20""")),

    // maxDf = 100 is the stop-shingle cap, mirrored in the oracle: at
    // 500-5000 docs a shingle spanning >100 documents is boilerplate.
    QueryDef(
      "dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccard(
        table(s, dir, "documents"), "doc_id", "text", shingleN = 3, threshold = 0.08,
        maxDf = 100),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w
        ),
        shdf AS (SELECT sh, COUNT(*) AS dfc FROM sh0 GROUP BY sh),
        sh AS (SELECT s.id, s.sh FROM sh0 s JOIN shdf d ON d.sh = s.sh WHERE d.dfc <= 100),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
        inter AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id
          GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.08""")),

    // Max-containment pairs: the subsumption score Jaccard cannot see
    // (a short doc quoted verbatim inside a long one has Jaccard ~0.01
    // but containment 1.0). Quote/host pairs are synthesized
    // deterministically in both engines: every (40k+7) doc IS the
    // quoted sentence, every 40k doc embeds it.
    QueryDef(
      "dedup_containment",
      (s, dir) => {
        val quote =
          "common quoted disclaimer sentence appears here verbatim today"
        val docs = table(s, dir, "documents").select(col("doc_id"),
          when(pmod(col("doc_id"), lit(40)) === 7, lit(quote))
            .when(pmod(col("doc_id"), lit(40)) === 0,
              concat(col("text"), lit(" " + quote)))
            .otherwise(col("text")).as("t"))
        Dedup.ngramContainment(docs, "doc_id", "t",
          shingleN = 3, threshold = 0.8)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 40 = 7 THEN 'common quoted disclaimer sentence appears here verbatim today'
                      WHEN doc_id % 40 = 0 THEN text || ' common quoted disclaimer sentence appears here verbatim today'
                      ELSE text END AS t
          FROM documents),
        w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(t), '\s+', ' ', 'g')), ' ') AS ws
          FROM d),
        sh AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
        inter AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id
          GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               CAST(i.n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
        FROM inter i
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE CAST(i.n_inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.8""")),

    QueryDef(
      "dedup_clusters",
      (s, dir) => Dedup.clusters(
        Dedup.ngramJaccard(table(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, threshold = 0.08, maxDf = 100)),
      Some("""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        shdf AS (SELECT sh, COUNT(*) AS dfc FROM sh0 GROUP BY sh),
        sh AS (SELECT s.id, s.sh FROM sh0 s JOIN shdf d ON d.sh = s.sh WHERE d.dfc <= 100),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
        inter AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM inter i
          JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
          WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.08),
        edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a""")),

    // MinHash-LSH and SimHash run in portable-hash mode here (md5-derived
    // instead of xxhash64) so DuckDB can recompute identical signatures:
    // the full pipeline — signatures, banding, bucket join, verification
    // — is value-checked, not just row-counted. Production callers keep
    // the faster xxhash64 default; the relational machinery is the same.
    QueryDef(
      "dedup_minhash_lsh",
      (s, dir) => Dedup.minhashLsh(
        table(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, k = 16, bands = 8, threshold = 0.125, portable = true,
        maxBucket = 200),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
          FROM w),
        hp AS (
          SELECT id,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647) AS h1,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % 2147483647) AS h2
          FROM sh WHERE len(shs) > 0),
        sig AS (
          SELECT id, list_transform(range(0, 16),
                   j -> list_min(list_transform(range(1, len(h1) + 1),
                          x -> (h1[x] + j * h2[x]) % 2147483647))) AS sig
          FROM hp),
        banded AS (
          SELECT id, b,
                 md5(array_to_string(sig[b*2+1 : b*2+2], ',') || ',' || b) AS band_hash
          FROM sig, unnest(range(0, 8)) t(b)),
        bsz AS (SELECT b, band_hash, COUNT(*) AS m FROM banded GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM banded x
          JOIN banded y ON x.b = y.b AND x.band_hash = y.band_hash
          JOIN bsz z ON z.b = x.b AND z.band_hash = x.band_hash AND z.m <= 200
          WHERE x.id < y.id),
        scored AS (
          SELECT c.id_a, c.id_b,
                 CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 AS est_jaccard
          FROM cand c
          JOIN sig sa ON sa.id = c.id_a
          JOIN sig sb ON sb.id = c.id_b)
        SELECT id_a, id_b, est_jaccard FROM scored WHERE est_jaccard >= 0.125""")),

    // INCREMENTAL dedup (fit-once/serve-many for MinHash): the corpus
    // splits into a "historical" base (doc_id % 5 != 4) and a "new
    // batch" (doc_id % 5 = 4) deduped against the base's signature
    // table — the in-frame reference of the daily-ingest serve, which
    // dedup_minhash_serve runs through the persisted index. Portable
    // family, so the oracle replays signatures for both sides and the
    // two-sided band join in SQL.
    QueryDef(
      "dedup_incremental",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
        Dedup.minhashLshAgainst(
          Dedup.minhashSignatures(batch, "doc_id", "text",
            shingleN = 3, k = 16, portable = true),
          Dedup.minhashSignatures(hist, "doc_id", "text",
            shingleN = 3, k = 16, portable = true),
          k = 16, bands = 8, threshold = 0.125, portable = true,
          maxBucket = 200)
      },
      Some(DedupIncrementalSql)),

    // The SAME incremental serve through the persisted TERM-PARTITIONED
    // band index (saveLshBandIndex → parquet round trip →
    // minhashLshAgainst(index)): band rows precomputed at build, the
    // arrival batch's band-hash bucket set prunes index partitions
    // statically, signatures verified off the index rows themselves.
    // Shares dedup_incremental's oracle SQL VERBATIM — layout may only
    // change which files are read, never a row.
    QueryDef(
      "dedup_minhash_serve",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-lsh-bands-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Dedup.saveLshBandIndex(
          Dedup.minhashSignatures(hist, "doc_id", "text",
            shingleN = 3, k = 16, portable = true),
          path, k = 16, bands = 8, portable = true,
          maxBucket = 200, nHashBuckets = 16)
        Dedup.minhashLshAgainst(
          Dedup.minhashSignatures(batch, "doc_id", "text",
            shingleN = 3, k = 16, portable = true),
          Dedup.loadLshBandIndex(s, path),
          threshold = 0.125, maxBucket = 200)
      },
      Some(DedupIncrementalSql)),

    // Append-composability of the UNCAPPED LSH band index, pinned
    // cross-engine (the dedup_exact_merged pattern at the minhash
    // face): history lands in the layout as save(evens) THEN
    // append(odds), and serving the batch against it must equal the
    // oracle's one-shot replay over ALL of history — appendLshBandIndex
    // may only change file layout, never a row. Uncapped build/serve
    // (capped builds are rebuild-only, the sidecar contract), so the
    // oracle is the incremental SQL minus its two bucket-cap joins.
    QueryDef(
      "dedup_minhash_append",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
        def sigs(d: org.apache.spark.sql.DataFrame) =
          Dedup.minhashSignatures(d, "doc_id", "text",
            shingleN = 3, k = 16, portable = true)
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-lsh-append-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Dedup.saveLshBandIndex(
          sigs(hist.filter(pmod(col("doc_id"), lit(2)) === 0)),
          path, k = 16, bands = 8, portable = true, nHashBuckets = 16)
        Dedup.appendLshBandIndex(
          sigs(hist.filter(pmod(col("doc_id"), lit(2)) =!= 0)), path)
        Dedup.minhashLshAgainst(sigs(batch),
          Dedup.loadLshBandIndex(s, path),
          threshold = 0.125, maxBucket = Int.MaxValue)
      },
      Some(DedupAppendSql)),

    QueryDef(
      "dedup_simhash",
      (s, dir) => Dedup.simhashPairs(
        table(s, dir, "documents"), "doc_id", "text", maxHamming = 14,
        portable = true),
      Some("""
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        th AS (
          SELECT doc_id AS id,
                 list_transform(ws, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
          FROM w),
        sim AS (
          SELECT id,
                 CAST(list_sum(list_transform(range(0, 60), p ->
                   CASE WHEN 2 * len(list_filter(hs, h -> ((h >> p) & 1) = 1)) > len(hs)
                        THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS simhash
          FROM th),
        banded AS (
          SELECT id, simhash, b, (simhash >> CAST(b*16 AS INTEGER)) & 65535 AS chunk
          FROM sim, unnest(range(0, 4)) t(b)),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b,
                 x.simhash AS sim_a, y.simhash AS sim_b
          FROM banded x JOIN banded y ON x.b = y.b AND x.chunk = y.chunk
          WHERE x.id < y.id)
        SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 14""")),

    // Incremental SimHash: even ids are the persisted 8-byte-per-doc
    // fingerprint index, odd ids the ingest batch — cross pairs only,
    // same banding + Hamming verify as dedup_simhash (shared
    // simhashBands helper). The streaming twin (simhashDedupStream)
    // shares this code path.
    QueryDef(
      "dedup_simhash_incremental",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.simhashAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.withSimhash(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            portable = true),
          "doc_id", "text", maxHamming = 14, portable = true)
      },
      Some(SimhashIncrementalSql)),

    // The SAME incremental SimHash serve through the persisted
    // BAND-BUCKETED index (saveSimhashBandIndex → parquet round trip
    // → simhashAgainst(index)): band rows precomputed at build, the
    // arrival batch's (band, chunk) bucket set prunes index
    // partitions statically, Hamming verified off the index rows
    // themselves, and the hash family comes from the index's own
    // stats sidecar. Shares dedup_simhash_incremental's oracle SQL
    // VERBATIM — layout may only change which files are read, never
    // a row.
    QueryDef(
      "dedup_simhash_serve",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-sim-bands-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Dedup.saveSimhashBandIndex(
          Dedup.withSimhash(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            portable = true),
          path, nHashBuckets = 16)
        Dedup.simhashAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.loadSimhashBandIndex(s, path),
          "doc_id", "text", maxHamming = 14)
      },
      Some(SimhashIncrementalSql)),

    QueryDef(
      "dedup_embedding_cosine",
      (s, dir) => Dedup.embeddingCosinePairs(
        table(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.42),
      Some("""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.42""")),

    // Embedding near-dup SERVE: odds are the arrival batch, evens the
    // persisted encoded history (IVF-PQ index + codes). Invariant gate
    // in the dedup_semantic style: every served pair must be a SUBSET
    // of the exact odd→even cross pairs (each pair is exact-cosine
    // refined, so no false positives by construction) with >= 70%
    // recall at these probe settings. n_exact is DuckDB-checkable.
    QueryDef(
      "dedup_semantic_incremental",
      (s, dir) => {
        import graft.ops.Similarity
        val emb = table(s, dir, "embeddings")
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val arr = emb.filter(col("vec_id") % 2 =!= 0)
        val idx = Similarity.fitIndex(hist, "vec_id", "embedding",
          nCentroids = 16, m = 8, kSub = 16)
        // nProbe/adcMargin measured at sf0.1 (the r14 certification):
        // at 6/0.15 recall fell to 0.46 — the ADC estimate's
        // quantization error on this data exceeds the 0.15 margin, so
        // true pairs died in the pre-filter before exact refinement.
        // 8/0.3 measures 0.82 at sf0.1 (and higher at sf0.01); the
        // 0.7 bar (r15 verdict #6 — raised from 0.5, which would
        // have passed the exact regression class r14 caught by luck)
        // keeps ~0.1 honest headroom at every certified scale while
        // failing any silent recall collapse.
        // Checkpointed: the subset gate reads `served` AND `exact`,
        // the counts read them again — unstaged, the serve and the
        // O(n²) exact baseline each ran once per consumer. Both
        // outputs are threshold-surviving pairs (tiny).
        val served = Similarity.nearDupAgainst(
          arr, hist, Similarity.encodeCorpus(hist, "vec_id", "embedding", idx),
          "vec_id", "embedding", idx, threshold = 0.42, nProbe = 8,
          adcMargin = 0.3)
          .localCheckpoint(false)
        val exact = Dedup.embeddingCosinePairs(
            emb, "vec_id", "embedding", threshold = 0.42)
          .filter((col("id_a") % 2 =!= 0 && col("id_b") % 2 === 0) ||
            (col("id_a") % 2 === 0 && col("id_b") % 2 =!= 0))
          .select(
            when(col("id_a") % 2 =!= 0, col("id_a")).otherwise(col("id_b")).as("new_id"),
            when(col("id_a") % 2 === 0, col("id_a")).otherwise(col("id_b")).as("base_id"))
          .localCheckpoint(false)
        val nEx = exact.agg(count(lit(1)).cast("long").as("n_exact"))
        val bad = served.join(exact, Seq("new_id", "base_id"), "left_anti")
          .agg(count(lit(1)).as("__nbad"))
        val nSv = served.agg(count(lit(1)).as("__nsv"))
        nEx.crossJoin(nSv).crossJoin(bad).select(
          col("n_exact"),
          (col("__nbad") === 0).as("subset_ok"),
          (col("__nsv").cast("double") / col("n_exact").cast("double") >= 0.7)
            .as("recall_ok"))
      },
      Some(DedupSemanticIncrementalSql)),

    // The SAME incremental embedding serve through the PERSISTED
    // artifacts (saveIndex + saveEncodedCorpus's cid-partitioned
    // STORED-VECTOR layout → parquet round trips → nearDupAgainst,
    // whose probed-cid collect prunes encoded partitions at the file
    // level and whose refinement runs inline on the stored vectors —
    // the history frame passed below is LIMIT 0, so a regression to
    // the history-join path collapses recall and fails the oracle).
    // Shares dedup_semantic_incremental's oracle SQL VERBATIM — the
    // layout may only change which files are read, never a pair.
    QueryDef(
      "dedup_semantic_serve",
      (s, dir) => {
        import graft.ops.Similarity
        val emb = table(s, dir, "embeddings")
        val hist = emb.filter(col("vec_id") % 2 === 0)
        val arr = emb.filter(col("vec_id") % 2 =!= 0)
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-sem-serve-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        val idx0 = Similarity.fitIndex(hist, "vec_id", "embedding",
          nCentroids = 16, m = 8, kSub = 16)
        Similarity.saveIndex(idx0, s"$path/ann", s)
        Similarity.saveEncodedCorpus(
          Similarity.encodeCorpus(hist, "vec_id", "embedding", idx0,
            storeVectors = true),
          s"$path/encoded")
        val idx = Similarity.loadIndex(s"$path/ann", s)
        // Checkpointed (the dedup_semantic_incremental argument): two
        // consumers each for the serve and the exact baseline.
        val served = Similarity.nearDupAgainst(
          arr, hist.limit(0), Similarity.loadEncodedCorpus(s, s"$path/encoded"),
          "vec_id", "embedding", idx, threshold = 0.42, nProbe = 8,
          adcMargin = 0.3) // settings measured at sf0.1 — see the twin above
          .localCheckpoint(false)
        val exact = Dedup.embeddingCosinePairs(
            emb, "vec_id", "embedding", threshold = 0.42)
          .filter((col("id_a") % 2 =!= 0 && col("id_b") % 2 === 0) ||
            (col("id_a") % 2 === 0 && col("id_b") % 2 =!= 0))
          .select(
            when(col("id_a") % 2 =!= 0, col("id_a")).otherwise(col("id_b")).as("new_id"),
            when(col("id_a") % 2 === 0, col("id_a")).otherwise(col("id_b")).as("base_id"))
          .localCheckpoint(false)
        val nEx = exact.agg(count(lit(1)).cast("long").as("n_exact"))
        val bad = served.join(exact, Seq("new_id", "base_id"), "left_anti")
          .agg(count(lit(1)).as("__nbad"))
        val nSv = served.agg(count(lit(1)).as("__nsv"))
        nEx.crossJoin(nSv).crossJoin(bad).select(
          col("n_exact"),
          (col("__nbad") === 0).as("subset_ok"),
          (col("__nsv").cast("double") / col("n_exact").cast("double") >= 0.7)
            .as("recall_ok"))
      },
      Some(DedupSemanticIncrementalSql)),

    // SemDeDup invariant gate: cluster-local cosine pairs must be a
    // SUBSET of the exact all-pairs result (same threshold) and keep
    // >= 50% recall. n_exact is DuckDB-checkable; the booleans assert
    // the approximation's contract, like the ANN recall queries.
    QueryDef(
      "dedup_semantic",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        // Checkpointed: both pair sets feed the subset gate AND their
        // own count — two consumers each (see dedup_semantic_serve).
        val sem = Dedup.semanticPairs(emb, "vec_id", "embedding",
          nCentroids = 16, threshold = 0.42)
          .localCheckpoint(false)
        val exact = Dedup.embeddingCosinePairs(emb, "vec_id", "embedding",
          threshold = 0.42)
          .localCheckpoint(false)
        val nEx = exact.agg(count(lit(1)).cast("long").as("n_exact"))
        val nSem = sem.agg(count(lit(1)).as("__nsem"))
        val bad = sem.join(exact.select("id_a", "id_b"),
          Seq("id_a", "id_b"), "left_anti").agg(count(lit(1)).as("__nbad"))
        nEx.crossJoin(nSem).crossJoin(bad).select(
          col("n_exact"),
          (col("__nbad") === 0).as("subset_ok"),
          (col("__nsem").cast("double") / col("n_exact").cast("double") >= 0.5)
            .as("recall_ok"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
               true AS subset_ok, true AS recall_ok
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.42""")),

    // Sequence packing: docs → fixed-token-budget training sequences,
    // hash-bucketed so packing parallelizes (one window per bucket,
    // never a global sort).
    QueryDef(
      "pack_sequences",
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"),
            size(TextOps.tokens(TextOps.normalized(col("text")))).cast("long").as("n_tokens"))
        graft.ops.Packing.sequenceStats(docs, "doc_id", "n_tokens",
          seqLen = 2048, buckets = 8)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 8 AS pack_bucket,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) AS ord
          FROM documents),
        p AS (
          SELECT pack_bucket, doc_id, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_bucket
                   ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
          FROM d)
        SELECT pack_bucket,
               CAST(tokens_before // 2048 AS BIGINT) AS seq_idx,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               least(CAST(SUM(n_tokens) AS DOUBLE) / 2048, 1.0) AS fill_ratio
        FROM p GROUP BY 1, 2""")),

    // The packing splitter: every (doc, sequence) overlap with its
    // half-open token span — straddling docs split across sequences.
    QueryDef(
      "pack_segments",
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"),
            size(TextOps.tokens(TextOps.normalized(col("text")))).cast("long").as("n_tokens"))
        graft.ops.Packing.splitSegments(docs, "doc_id", "n_tokens",
          seqLen = 2048, buckets = 8)
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 8 AS pack_bucket,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) AS ord
          FROM documents),
        p AS (
          SELECT pack_bucket, doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY pack_bucket
                   ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
          FROM d),
        seg AS (
          SELECT pack_bucket, doc_id, n_tokens, tb,
                 unnest(range(tb // 2048, (tb + n_tokens - 1) // 2048 + 1)) AS seq_idx
          FROM p WHERE n_tokens > 0)
        SELECT pack_bucket,
               CAST(seq_idx AS BIGINT) AS seq_idx,
               doc_id,
               CAST(greatest(seq_idx*2048 - tb, 0) AS BIGINT) AS doc_token_start,
               CAST(least((seq_idx+1)*2048 - tb, n_tokens) AS BIGINT) AS doc_token_end,
               CAST(greatest(tb - seq_idx*2048, 0) AS BIGINT) AS seq_offset
        FROM seg""")),

    // The assembled-training-sequence form (Packing.packedSequences —
    // what pack_sequences(strategy=sequences) writes): one row per
    // (bucket, seq_idx) with the ACTUAL concatenated token stream.
    // The token arrays compare as a space-joined digest so both
    // engines hash a scalar (whitespace tokens contain no spaces by
    // construction, so the digest is injective).
    QueryDef(
      "pack_training_sequences",
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"),
            TextOps.tokens(TextOps.normalized(col("text"))).as("toks"))
        graft.ops.Packing.packedSequences(docs, "doc_id", "toks",
            seqLen = 2048, buckets = 8)
          .select(col("pack_bucket"), col("seq_idx"),
            concat_ws(" ", col("tokens")).as("seq_text"),
            col("n_docs"), col("n_tokens"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 8 AS pack_bucket,
                 ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) AS ord
          FROM documents),
        p AS (
          SELECT pack_bucket, doc_id, ws,
                 CAST(len(ws) AS BIGINT) AS n_tokens,
                 CAST(COALESCE(SUM(CAST(len(ws) AS BIGINT)) OVER (PARTITION BY pack_bucket
                   ORDER BY ord, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tb
          FROM w),
        seg AS (
          SELECT pack_bucket, doc_id, ws, n_tokens, tb,
                 unnest(range(tb // 2048, (tb + n_tokens - 1) // 2048 + 1)) AS seq_idx
          FROM p WHERE n_tokens > 0),
        sel AS (
          SELECT pack_bucket, CAST(seq_idx AS BIGINT) AS seq_idx,
                 CAST(greatest(tb - seq_idx*2048, 0) AS BIGINT) AS seq_offset,
                 ws[CAST(greatest(seq_idx*2048 - tb, 0) AS BIGINT) + 1 :
                    CAST(least((seq_idx+1)*2048 - tb, n_tokens) AS BIGINT)] AS seg_toks
          FROM seg)
        SELECT pack_bucket, seq_idx,
               array_to_string(flatten(list(seg_toks ORDER BY seq_offset)), ' ') AS seq_text,
               COUNT(*) AS n_docs,
               CAST(len(flatten(list(seg_toks ORDER BY seq_offset))) AS BIGINT) AS n_tokens
        FROM sel GROUP BY 1, 2""")),

    // Data-mixture sampling: per-language keep rates (upsample rare,
    // downsample common) via the portable sampling hash.
    QueryDef(
      "mixture_sample",
      (s, dir) => graft.ops.Sampling.mixtureSample(
        table(s, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 40, "de" -> 80, "fr" -> 100), defaultPct = 10)
        .select("doc_id", "lang"),
      Some("""
        SELECT doc_id, lang FROM documents
        WHERE ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 <
              CASE lang WHEN 'fr' THEN 100 WHEN 'de' THEN 80
                        WHEN 'en' THEN 40 ELSE 10 END""")),

    // Benchmark decontamination: flag training docs sharing >= 3
    // trigrams with the (hash-sampled) eval split.
    QueryDef(
      "decontaminate",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val evalSet = docs.filter(graft.ops.Sampling.hashBucket(col("doc_id")) < 5)
        val train = docs.filter(graft.ops.Sampling.hashBucket(col("doc_id")) >= 5)
        Dedup.contamination(train, evalSet, "doc_id", "text",
          shingleN = 3, minShared = 3)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        ev AS (SELECT DISTINCT sh FROM sh WHERE ((((id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 5),
        tr AS (SELECT id, sh FROM sh WHERE ((((id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 >= 5)
        SELECT tr.id AS doc_id, COUNT(*) AS n_shared
        FROM tr JOIN ev ON ev.sh = tr.sh
        GROUP BY tr.id HAVING COUNT(*) >= 3""")),

    // The same decontamination through the broadcast-Bloom prefilter
    // (the 100 TB path: eval shingles reduce to a sketch the corpus
    // streams through map-side; survivors re-check exactly). Bloom has
    // no false negatives and candidates re-verify relationally, so the
    // output — and therefore the oracle — is IDENTICAL to
    // `decontaminate`: passing both proves the prefilter changed the
    // plan, not the answer. fpp = 0.2 on purpose: a leaky sketch
    // exercises the false-positive re-check path at oracle scale.
    QueryDef(
      "decontaminate_bloom",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val evalSet = docs.filter(graft.ops.Sampling.hashBucket(col("doc_id")) < 5)
        val train = docs.filter(graft.ops.Sampling.hashBucket(col("doc_id")) >= 5)
        Dedup.contaminationBloom(train, evalSet, "doc_id", "text",
          shingleN = 3, minShared = 3, fpp = 0.2)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        ev AS (SELECT DISTINCT sh FROM sh WHERE ((((id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 5),
        tr AS (SELECT id, sh FROM sh WHERE ((((id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 >= 5)
        SELECT tr.id AS doc_id, COUNT(*) AS n_shared
        FROM tr JOIN ev ON ev.sh = tr.sh
        GROUP BY tr.id HAVING COUNT(*) >= 3""")),

    // Semi-structured ingestion with corrupt-record quarantine: JSON
    // payloads built by identical concat in both engines, every 7th
    // truncated mid-object; Spark parses with from_json PERMISSIVE +
    // corrupt side channel, the oracle parses INDEPENDENTLY with
    // DuckDB's JSON functions (json_valid/json_extract) — a genuine
    // two-parser agreement check: every row comes out exactly once,
    // corrupt rows carry their raw payload and contribute no field
    // values, missing fields are NULL-not-quarantined.
    QueryDef(
      "json_quarantine",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = table(s, dir, "documents")
        val json = docs.select(col("doc_id"),
          concat(lit("{\"id\":"), col("doc_id"),
            lit(",\"lang\":\""), col("lang"),
            lit("\",\"n\":"), length(col("text")), lit("}")).as("js"))
        val corrupted = json.withColumn("js",
          when(pmod(col("doc_id"), lit(7)) === 0,
            expr("substring(js, 1, length(js)-1)")).otherwise(col("js")))
        graft.sources.JsonQuarantine.parse(corrupted, "js",
          StructType(Seq(StructField("id", LongType),
            StructField("lang", StringType), StructField("n", LongType))))
      },
      Some("""
        WITH j AS (
          SELECT doc_id,
                 '{"id":' || doc_id || ',"lang":"' || lang || '","n":' || length(text) || '}' AS js0
          FROM documents),
        c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN substr(js0, 1, length(js0) - 1)
                      ELSE js0 END AS js
          FROM j)
        SELECT doc_id,
               CASE WHEN json_valid(js) THEN CAST(json_extract(js, '$.id') AS BIGINT) END AS id,
               CASE WHEN json_valid(js) THEN json_extract_string(js, '$.lang') END AS lang,
               CASE WHEN json_valid(js) THEN CAST(json_extract(js, '$.n') AS BIGINT) END AS n,
               NOT json_valid(js) AS quarantined,
               CASE WHEN NOT json_valid(js) THEN js END AS raw
        FROM c""")),

    // CSV flavor of the quarantine ingestion: lines built by identical
    // concat in both engines, every 9th given a non-numeric typed
    // field and every (9k+5)th an extra trailing field. The oracle
    // parses INDEPENDENTLY (string_split + try_cast arity/type
    // checks — a faithful parser for this quote-free dialect), so
    // Spark's univocity semantics and the relational mirror must
    // agree row by row: corrupt rows keep raw and contribute no
    // salvaged values.
    QueryDef(
      "csv_quarantine",
      (s, dir) => {
        import org.apache.spark.sql.types._
        val docs = table(s, dir, "documents")
        val clean = concat(col("doc_id"), lit(","), col("lang"), lit(","),
          length(col("text")))
        val corrupted = docs.select(col("doc_id"),
          when(pmod(col("doc_id"), lit(9)) === 0,
            concat(col("doc_id"), lit(","), col("lang"), lit(",xx")))
            .when(pmod(col("doc_id"), lit(9)) === 5, concat(clean, lit(",EXTRA")))
            .otherwise(clean).as("line"))
        graft.sources.CsvQuarantine.parse(corrupted, "line",
          StructType(Seq(StructField("id", LongType),
            StructField("lang", StringType), StructField("n", LongType))))
      },
      Some("""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 9 = 0 THEN doc_id || ',' || lang || ',xx'
                      WHEN doc_id % 9 = 5 THEN doc_id || ',' || lang || ',' || length(text) || ',EXTRA'
                      ELSE doc_id || ',' || lang || ',' || length(text) END AS line
          FROM documents),
        p AS (
          SELECT doc_id, line, string_split(line, ',') AS f FROM c),
        v AS (
          SELECT doc_id, line, f,
                 len(f) = 3 AND try_cast(f[1] AS BIGINT) IS NOT NULL
                   AND try_cast(f[3] AS BIGINT) IS NOT NULL AS ok
          FROM p)
        SELECT doc_id,
               CASE WHEN ok THEN CAST(f[1] AS BIGINT) END AS id,
               CASE WHEN ok THEN f[2] END AS lang,
               CASE WHEN ok THEN CAST(f[3] AS BIGINT) END AS n,
               NOT ok AS quarantined,
               CASE WHEN NOT ok THEN line END AS raw
        FROM v""")),

    QueryDef(
      "text_token_counts",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          size(TextOps.tokens(TextOps.normalized(col("text")))).cast("long").as("n_tokens_ws"),
          TextOps.tokenCountRegex(col("text")).cast("long").as("n_tokens_re")),
      Some("""
        SELECT doc_id,
               CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_re
        FROM documents""")),

    // Rolling-hash fingerprint in portable mode (mod 2^31-1, still an
    // O(n) rolling update): the DuckDB oracle folds the same per-window
    // char-code polynomial via list_reduce (documents.text is ASCII, so
    // char codes == bytes). The production mod-2^64 form is not
    // SQL-expressible (no wraparound); it is spec-tested against its
    // own naive oracle in RollingHashSpec.
    QueryDef(
      "doc_rolling_fingerprint",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.RollingHashFunctions.rollingMinHashPortable(col("text"), 16)
            .as("rfp")),
      Some("""
        SELECT doc_id,
          CASE WHEN length(text) = 0 THEN 0
          ELSE list_min(list_transform(
                 range(1, greatest(length(text) - least(16, length(text)) + 1, 1) + 1),
                 i -> list_reduce(list_transform(range(i, i + least(16, length(text))),
                        j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT)),
                      (acc, x) -> (acc * 257 + x) % 2147483647)))
          END AS rfp
        FROM documents""")),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken — the MOSS
    // selection): one row per selected k-gram window-min hash, in
    // engine-portable mod-p mode so DuckDB recomputes every value.
    QueryDef(
      "doc_winnow",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.RollingHashFunctions
            .winnowedFingerprintsPortable(col("text"), 8, 16)).as("fp")),
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
                 ELSE list_transform(
                   range(1, greatest(length(text) - least(8, length(text)) + 1, 1) + 1),
                   i -> list_reduce(
                          list_transform(range(i, i + least(8, length(text))),
                            j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT)),
                          (acc, x) -> (acc * 257 + x) % 2147483647))
                 END AS hs
          FROM documents),
        s AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(hs) - least(16, len(hs)) + 1, 1) + 1),
                   j -> list_min(hs[CAST(j AS INTEGER):CAST(j + least(16, len(hs)) - 1 AS INTEGER)]))) AS fps
          FROM g WHERE len(hs) > 0)
        SELECT doc_id, unnest(fps) AS fp FROM s""")),

    // Winnow-overlap near-dup pairs (the MOSS report): docs sharing
    // >= 2 winnowed fingerprints, ubiquitous fingerprints df-capped.
    QueryDef(
      "dedup_winnow_pairs",
      (s, dir) => Dedup.winnowOverlap(
        table(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 16, minShared = 2, maxDf = 100, portable = true),
      Some("""
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
                 ELSE list_transform(
                   range(1, greatest(length(text) - least(8, length(text)) + 1, 1) + 1),
                   i -> list_reduce(
                          list_transform(range(i, i + least(8, length(text))),
                            j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT)),
                          (acc, x) -> (acc * 257 + x) % 2147483647))
                 END AS hs
          FROM documents),
        s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(hs) - least(16, len(hs)) + 1, 1) + 1),
                   j -> list_min(hs[CAST(j AS INTEGER):CAST(j + least(16, len(hs)) - 1 AS INTEGER)])))) AS fp
          FROM g WHERE len(hs) > 0),
        keep AS (SELECT fp FROM s GROUP BY fp HAVING COUNT(*) <= 100),
        f AS (SELECT s.doc_id, s.fp FROM s JOIN keep USING (fp))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2""")),

    // Incremental winnow: even ids are the persisted substring
    // fingerprint index, odd ids the arrival batch — the MOSS
    // substring guarantee served against history. The df-cap applies
    // to the BASE side only (cadence-independent, the
    // minhashLshAgainst base-cap argument).
    QueryDef(
      "dedup_winnow_incremental",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.winnowAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.winnowFingerprints(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            k = 8, w = 16, portable = true),
          "doc_id", "text", k = 8, w = 16, minShared = 2, maxDf = 100,
          portable = true)
      },
      Some(WinnowIncrementalSql)),

    // The SAME incremental winnow serve through the persisted
    // FP-BUCKETED index (saveWinnowFpIndex → parquet round trip →
    // winnowAgainst(index)): the arrival batch's fingerprint bucket
    // set prunes index partitions statically, the df-cap filters the
    // per-fingerprint document frequency STORED at build (no
    // per-serve aggregate over the index), and (k, w, family) come
    // from the index's own stats sidecar. Shares
    // dedup_winnow_incremental's oracle SQL VERBATIM — layout may
    // only change which files are read, never a row.
    QueryDef(
      "dedup_winnow_serve",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"/tmp/graft-win-fps-${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
            s"-${s.sparkContext.applicationId}")
        Dedup.saveWinnowFpIndex(
          Dedup.winnowFingerprints(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            k = 8, w = 16, portable = true),
          path, nHashBuckets = 16)
        Dedup.winnowAgainst(
          docs.filter(col("doc_id") % 2 =!= 0),
          Dedup.loadWinnowFpIndex(s, path),
          "doc_id", "text", minShared = 2, maxDf = 100)
      },
      Some(WinnowIncrementalSql)),

    // End-to-end dedup: pairs → clusters → drop non-canonical members.
    QueryDef(
      "dedup_survivors",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val removed = Dedup.clusters(
          Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3, threshold = 0.08,
            maxDf = 100))
          .filter(col("id") =!= col("cluster"))
        docs.join(removed, docs("doc_id") === removed("id"), "left_anti")
          .select(col("doc_id"), col("lang"))
      },
      Some("""
        WITH RECURSIVE w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh0 AS (
          SELECT DISTINCT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
          FROM w),
        shdf AS (SELECT sh, COUNT(*) AS dfc FROM sh0 GROUP BY sh),
        sh AS (SELECT s.id, s.sh FROM sh0 s JOIN shdf d ON d.sh = s.sh WHERE d.dfc <= 100),
        sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
        inter AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_inter
          FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id GROUP BY 1, 2),
        pairs AS (
          SELECT id_a, id_b FROM inter i
          JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
          WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) >= 0.08),
        edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        removed AS (
          SELECT a AS id FROM reach GROUP BY a HAVING a != MIN(b))
        SELECT doc_id, lang FROM documents
        WHERE doc_id NOT IN (SELECT id FROM removed)""")),

    // Composite quality gate over the text-stats building blocks — the
    // standard pre-training corpus filter shape.
    QueryDef(
      "text_quality_filter",
      (s, dir) => TextOps.textStats(
          table(s, dir, "documents").select("doc_id", "text"), "text", Stopwords)
        .filter(col("n_tokens").between(25, 1000) &&
          col("stopword_ratio") <= 0.08 &&
          col("mean_token_len").between(2.0, 15.0) &&
          col("type_token_ratio") >= 0.35)
        .select("doc_id", "n_tokens", "stopword_ratio"),
      Some("""
        WITH stats AS (
          SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
            CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
            CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl
          FROM documents)
        SELECT doc_id, n_tokens, stopword_ratio FROM stats
        WHERE n_tokens BETWEEN 25 AND 1000
          AND stopword_ratio <= 0.08
          AND mtl BETWEEN 2.0 AND 15.0
          AND ttr >= 0.35""")),

    // Cleaning stage: URLs out, control chars out, whitespace
    // collapsed — the synthetic docs contain none of the dirt, so the
    // interesting assertions (URL/control stripping) live in
    // TextOpsSpec; the oracle still value-checks the full regex chain
    // verbatim over the corpus.
    QueryDef(
      "text_clean",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), TextOps.cleaned(col("text")).as("clean_text"),
          length(TextOps.cleaned(col("text"))).cast("long").as("n_chars")),
      Some("""
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, 'https?://[^\s]+', ' ', 'g'),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                 '\s+', ' ', 'g')) AS clean_text,
               CAST(length(trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, 'https?://[^\s]+', ' ', 'g'),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                 '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
        FROM documents""")),

    QueryDef(
      "text_stats",
      (s, dir) => TextOps.textStats(
          table(s, dir, "documents").select("doc_id", "text"), "text", Stopwords)
        .drop("text"),
      Some("""
        SELECT doc_id,
          CAST(length(text) AS BIGINT) AS n_chars_txt,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
          CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS BIGINT) AS n_stopwords,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS type_token_ratio,
          CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
          CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len
        FROM documents""")),

    // DECISION (r8): kept as the CHEAP-TIER language ID — a single
    // codegen projection with zero model state, the right tool for a
    // coarse first-pass filter over 100 TB. For accuracy,
    // text_langid_ngram's in-engine char-trigram Naive Bayes is the
    // primary path (spec-shown to beat these markers on held-out
    // multilingual docs); nothing downstream consumes the marker
    // scores, so no re-pointing was needed.
    QueryDef(
      "text_langid",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.langId(col("text"), LangMarkers).as("lang_pred")),
      Some("""
        WITH scored AS (
          SELECT doc_id, lang,
            len(list_filter(string_split(text, ' '), w -> w IN ('the','a','and','of'))) AS s_en,
            len(list_filter(string_split(text, ' '), w -> w IN ('der','die','das','und'))) AS s_de,
            len(list_filter(string_split(text, ' '), w -> w IN ('le','la','et','de'))) AS s_fr,
            len(list_filter(string_split(text, ' '), w -> w IN ('el','la','y','de'))) AS s_es
          FROM documents)
        SELECT doc_id, lang,
          CASE
            WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es'
          END AS lang_pred
        FROM scored""")),

    // Real language ID: char-trigram Naive Bayes trained IN-ENGINE on
    // the labeled half of the corpus (even doc_ids), scoring the
    // held-out odd half — the full train+score loop replayed in SQL.
    QueryDef(
      "text_langid_ngram",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        LanguageModel.charNgramLangId(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", "lang")
      },
      Some("""
        WITH norm AS (
          SELECT doc_id, lang,
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
          FROM documents),
        trg AS (
          SELECT lang,
                 unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                        i -> substr(t, CAST(i AS INTEGER), 3))) AS g
          FROM norm WHERE doc_id % 2 = 0),
        cl AS (SELECT lang, g, COUNT(*) AS c FROM trg GROUP BY 1, 2),
        nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_l FROM cl GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT g) AS v FROM cl),
        dl AS (SELECT lang, COUNT(*) AS docs_l FROM norm WHERE doc_id % 2 = 0 GROUP BY 1),
        dt AS (SELECT COUNT(*) AS docs_total FROM norm WHERE doc_id % 2 = 0),
        pri AS (
          SELECT lang, CAST(round(ln(CAST(docs_l AS DOUBLE) / CAST(docs_total AS DOUBLE)), 9)
                 AS DECIMAL(12,9)) AS lp_prior
          FROM dl, dt),
        docg AS (
          SELECT id, g, COUNT(*) AS cnt FROM (
            SELECT doc_id AS id,
                   unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                          i -> substr(t, CAST(i AS INTEGER), 3))) AS g
            FROM norm WHERE doc_id % 2 = 1)
          GROUP BY 1, 2),
        langs AS (SELECT DISTINCT lang FROM cl),
        ll AS (
          SELECT d.id, L.lang,
                 SUM(CAST(round(ln((CAST(COALESCE(c.c, 0) AS DOUBLE) + 1.0) /
                       (CAST(n.n_l AS DOUBLE) + 1.0 * CAST(v.v AS DOUBLE))), 9)
                     AS DECIMAL(12,9)) * CAST(d.cnt AS DECIMAL(10,0))) AS ll_grams
          FROM docg d CROSS JOIN langs L
          LEFT JOIN cl c ON c.lang = L.lang AND c.g = d.g
          JOIN nl n ON n.lang = L.lang
          CROSS JOIN v
          GROUP BY 1, 2),
        best AS (
          SELECT ll.id, ll.lang,
                 row_number() OVER (PARTITION BY ll.id
                   ORDER BY ll.ll_grams + p.lp_prior DESC, ll.lang ASC) AS rk
          FROM ll JOIN pri p ON p.lang = ll.lang)
        SELECT n.doc_id, b.lang AS lang_pred
        FROM (SELECT DISTINCT doc_id FROM norm WHERE doc_id % 2 = 1) n
        LEFT JOIN (SELECT id, lang FROM best WHERE rk = 1) b ON b.id = n.doc_id""")),

    QueryDef(
      "doc_fingerprint",
      (s, dir) => table(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokens(TextOps.normalized(col("text"))).as("ws"))
        .select(col("doc_id"), TextOps.fingerprint(col("ws"), 4).as("fingerprint")),
      Some("""
        SELECT doc_id,
               list_min(list_transform(range(1, greatest(len(ws) - 3, 0) + 1),
                 i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS fingerprint
        FROM (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents) t""")),

    QueryDef(
      "sim_topk_bruteforce",
      (s, dir) => Similarity.bruteForceTopK(
        table(s, dir, "embeddings"), "vec_id", "embedding", k = 5),
      Some("""
        WITH p AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) AS cos
          FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id)
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM p QUALIFY rank <= 5""")),

    // Sign-LSH top-k: the hyperplanes are deterministic plan-time
    // literals, so the SAME weights are embedded into the oracle SQL
    // (generated below from the operator's own planeWeights) and DuckDB
    // reproduces the bucketing exactly — a value-level check of the
    // whole bucket-join + rank pipeline.
    QueryDef(
      "sim_topk_lsh",
      (s, dir) => Similarity.lshTopK(
        table(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        dim = 64, nPlanes = 4).drop("cos"),
      Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (
          SELECT id, v, ${bucketSql(tableIdx = 0, nPlanes = 4, dim = 64)} AS bucket FROM v),
        p AS (
          SELECT a.id AS query_id, c.id AS neighbor_id,
                 list_cosine_similarity(a.v, c.v) AS cos
          FROM b a JOIN b c ON a.bucket = c.bucket AND a.id != c.id)
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM p QUALIFY rank <= 5""")),

    QueryDef(
      "sim_topk_lsh_multi",
      (s, dir) => Similarity.lshTopKMultiTable(
        table(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        dim = 64, nPlanes = 6, tables = 3).drop("cos"),
      Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        b AS (
          SELECT id, v,
                 ${bucketSql(tableIdx = 0, nPlanes = 6, dim = 64)} AS b0,
                 ${bucketSql(tableIdx = 1, nPlanes = 6, dim = 64)} AS b1,
                 ${bucketSql(tableIdx = 2, nPlanes = 6, dim = 64)} AS b2
          FROM v),
        p AS (
          SELECT DISTINCT a.id AS query_id, c.id AS neighbor_id
          FROM b a JOIN b c
            ON (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2) AND a.id != c.id),
        s AS (
          SELECT p.query_id, p.neighbor_id,
                 list_cosine_similarity(va.v, vb.v) AS cos
          FROM p
          JOIN v va ON va.id = p.query_id
          JOIN v vb ON vb.id = p.neighbor_id)
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM s QUALIFY rank <= 5""")),

    // IVF-Flat ANN (the centroid-bucketed scale path beside sign-LSH).
    // The centroid fit is float-mean-based and engine-specific, so the
    // oracle checks the INVARIANT (q16-style): recall@5 against the
    // exact brute-force top-5 — computed Spark-side in the same query —
    // must clear the bound, which DuckDB states as a literal alongside
    // the exact query count. Deterministic: the fit uses hash-seeded
    // init and DECIMAL sums (order-independent means).
    QueryDef(
      "sim_topk_ivf_recall",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 5,
          nCentroids = 64, nProbe = 24)
        // Exact baseline over a 10% deterministic query sample (the
        // engine-portable sampling hash, so the oracle can count the
        // sampled queries); the candidate corpus stays full.
        val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5,
          queryPred = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 10))
          .localCheckpoint(false) // feeds the hit join AND the query count
        val hits = bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        bf.select("query_id").distinct()
          .join(hits, Seq("query_id"), "left")
          .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            (sum(col("n_hit")).cast("double") /
              (count(lit(1)) * 5).cast("double") >= 0.7).as("recall_ok"))
      },
      Some("""
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
               true AS recall_ok
        FROM embeddings
        WHERE ((((vec_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 10""")),

    QueryDef(
      "sim_topk_pq_recall",
      (s, dir) => {
        val emb = table(s, dir, "embeddings")
        val pq = Similarity.ivfpqTopK(emb, "vec_id", "embedding", k = 5,
          nCentroids = 64, nProbe = 24, m = 8, kSub = 16, refine = 256,
          queryPred = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 10))
        // Same recall invariant as the IVF query: exact baseline over
        // the portable 10% query sample, candidate corpus stays full.
        val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 5,
          queryPred = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 10))
          .localCheckpoint(false) // feeds the hit join AND the query count
        val hits = bf.join(pq, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
        bf.select("query_id").distinct()
          .join(hits, Seq("query_id"), "left")
          .select(coalesce(col("n_hit"), lit(0L)).as("n_hit"))
          .agg(count(lit(1)).cast("long").as("n_queries"),
            (sum(col("n_hit")).cast("double") /
              (count(lit(1)) * 5).cast("double") >= 0.7).as("recall_ok"))
      },
      Some("""
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
               true AS recall_ok
        FROM embeddings
        WHERE ((((vec_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 10""")),

    // Incremental IVF-PQ index maintenance: under a FIXED index the
    // encoded-corpus table is append-composable — encode(evens) ∪
    // encode(odds) must search IDENTICALLY to encode(all) built in one
    // shot (same probes, same ADC estimates, same refined ranks). The
    // in-query parity check is exact (exceptAll both ways over the
    // full ranked results); the oracle pins the sampled query count
    // via the portable hash and parity at zero. This is the freshness
    // story at 100 TB: appending a day's embeddings re-touches nothing.
    QueryDef(
      "sim_topk_pq_incremental",
      (s, dir) => {
        import graft.ops.Similarity
        val emb = table(s, dir, "embeddings")
        val idx = Similarity.fitIndex(emb, "vec_id", "embedding",
          nCentroids = 64, m = 8, kSub = 16)
        val full = Similarity.encodeCorpus(emb, "vec_id", "embedding", idx)
        // coalesce the two halves' union to slot count: the union
        // doubles the map-task count of every downstream exchange
        // (guide §2.2 — M×R shuffle blocks), and slot-count partitions
        // keep the candidate join fully parallel at any corpus size.
        val merged = Similarity.encodeCorpus(
            emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", idx)
          .unionAll(Similarity.encodeCorpus(
            emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding", idx))
          .coalesce(s.sparkContext.defaultParallelism)
        val pred = Some(graft.ops.Sampling.hashBucket(col("vec_id")) < 5)
        // Checkpointed: rFull feeds the query count plus BOTH exceptAll
        // directions (three consumers), rInc both directions — each
        // search ran once per consumer before; the ranked outputs are
        // k rows per sampled query.
        val rFull = Similarity.searchEncoded(emb, full, "vec_id", "embedding",
          idx, k = 5, nProbe = 24, refine = 256, queryPred = pred)
          .localCheckpoint(false)
        val rInc = Similarity.searchEncoded(emb, merged, "vec_id", "embedding",
          idx, k = 5, nProbe = 24, refine = 256, queryPred = pred)
          .localCheckpoint(false)
        val diff = rFull.exceptAll(rInc).unionAll(rInc.exceptAll(rFull))
        rFull.agg(countDistinct(col("query_id")).cast("long").as("n_queries"))
          .crossJoin(diff.agg(count(lit(1)).cast("long").as("n_diff")))
          .select(col("n_queries"), col("n_diff"),
            (col("n_diff") === 0).as("parity_ok"))
      },
      Some("""
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
               CAST(0 AS BIGINT) AS n_diff, true AS parity_ok
        FROM embeddings
        WHERE ((((vec_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 100 < 5""")),

    QueryDef(
      "multimodal_decode",
      // Feature vector unpacked to scalar columns: the correctness
      // driver's pandas comparator can't hash ndarray cells.
      (s, dir) => Multimodal.stubDecode(
        Multimodal.asPayload(table(s, dir, "documents"), "doc_id", "text"),
        "media_id", "payload")
        .select(col("media_id"), col("n_bytes"), col("format"),
          col("width"), col("height"),
          element_at(col("feature"), 1).as("f0"),
          element_at(col("feature"), 2).as("f1"),
          element_at(col("feature"), 3).as("f2"),
          element_at(col("feature"), 4).as("f3")),
      Some("""
        SELECT doc_id AS media_id,
               CAST(length(text) AS BIGINT) AS n_bytes,
               CASE WHEN length(text) = 0 THEN 'empty'
                    WHEN (ascii(substr(text,1,1)) % 2) = 0 THEN 'img/fake-a'
                    ELSE 'img/fake-b' END AS format,
               CAST(16 + (length(text) % 64) AS INTEGER) AS width,
               CAST(16 + ((length(text) // 64) % 64) AS INTEGER) AS height,
               CAST(CAST(ascii(substr(text, 1, 1)) AS FLOAT) / 255 AS FLOAT) AS f0,
               CAST(CAST(ascii(substr(text, 2, 1)) AS FLOAT) / 255 AS FLOAT) AS f1,
               CAST(CAST(ascii(substr(text, 3, 1)) AS FLOAT) / 255 AS FLOAT) AS f2,
               CAST(CAST(ascii(substr(text, 4, 1)) AS FLOAT) / 255 AS FLOAT) AS f3
        FROM documents""")),

    // REAL image codec roundtrip (javax.imageio, JDK-resident): image
    // params derive from doc_id, pixels from the shared pixelValue
    // contract; the engine WRITES real PNG/BMP bytes and READS them
    // back — format detected from the bytes, dims and pixel checksum
    // from the decoded raster. PNG and BMP are lossless RGB, so the
    // oracle recomputes the identical checksum with plain BIGINT
    // arithmetic over generate_series — a value-level proof that a
    // real codec (not the stub) ran the roundtrip.
    QueryDef(
      "multimodal_decode_real",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(4) + pmod(col("doc_id"), lit(8))).cast("int").as("w"),
          (lit(4) + pmod(floor(col("doc_id") / lit(8.0)).cast("long"), lit(8)))
            .cast("int").as("h"),
          when(pmod(col("doc_id"), lit(2)) === 0, "png").otherwise("bmp").as("fmt"))
        Multimodal.decodeImage(
          Multimodal.encodeImage(params, "doc_id", "w", "h", "fmt"),
          "media_id", "payload")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w,
                 CAST(4 + (doc_id // 8) % 8 AS INT) AS h,
                 CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
          FROM documents)
        SELECT p.doc_id AS media_id, p.fmt AS format, p.w AS width, p.h AS height,
               CAST(SUM(((p.doc_id % 16777216) * 2654435761 + xs.x * 40503 + ys.y * 69061)
                 % 16777216) AS BIGINT) AS pix_sum
        FROM p, generate_series(0, 10) AS xs(x), generate_series(0, 10) AS ys(y)
        WHERE xs.x < p.w AND ys.y < p.h
        GROUP BY 1, 2, 3, 4""")),

    // REAL raster resize: the encoded images resample nearest-neighbor
    // into an 8x8 aspect fit. Geometry is pure integer (cross-multiplied
    // binding side + integer division), and NN reads source pixel
    // (ox*w DIV out_w, oy*h DIV out_h) — so the oracle rebuilds the
    // RESIZED raster's checksum from the pixelValue contract alone in
    // BIGINT arithmetic: a value-level proof the pixel buffer was
    // actually transformed (upscale and downscale both occur: src dims
    // span [4,11] against the 8x8 target).
    QueryDef(
      "multimodal_resize_real",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(4) + pmod(col("doc_id"), lit(8))).cast("int").as("w"),
          (lit(4) + pmod(floor(col("doc_id") / lit(8.0)).cast("long"), lit(8)))
            .cast("int").as("h"),
          when(pmod(col("doc_id"), lit(2)) === 0, "png").otherwise("bmp").as("fmt"))
        Multimodal.resizeImage(
          Multimodal.encodeImage(params, "doc_id", "w", "h", "fmt"),
          "media_id", "payload", targetW = 8, targetH = 8)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w,
                 CAST(4 + (doc_id // 8) % 8 AS INT) AS h,
                 CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
          FROM documents),
        g AS (
          SELECT doc_id, w, h, fmt,
                 CASE WHEN 8 * h <= 8 * w THEN 8
                      ELSE GREATEST(1, (w * 8) // h) END AS out_w,
                 CASE WHEN 8 * h <= 8 * w THEN GREATEST(1, (h * 8) // w)
                      ELSE 8 END AS out_h
          FROM p)
        SELECT g.doc_id AS media_id, g.fmt AS format,
               g.w AS src_w, g.h AS src_h,
               CAST(g.out_w AS INT) AS out_w, CAST(g.out_h AS INT) AS out_h,
               CAST(SUM(((g.doc_id % 16777216) * 2654435761
                         + ((xs.x * g.w) // g.out_w) * 40503
                         + ((ys.y * g.h) // g.out_h) * 69061) % 16777216) AS BIGINT) AS pix_sum
        FROM g, generate_series(0, 7) AS xs(x), generate_series(0, 7) AS ys(y)
        WHERE xs.x < g.out_w AND ys.y < g.out_h
        GROUP BY 1, 2, 3, 4, 5, 6""")),

    // REAL audio codec roundtrip (javax.sound.sampled, JDK-resident):
    // 16-bit mono PCM clips generated from doc_id via the shared
    // sampleValue contract, written as real RIFF/WAVE containers and
    // decoded back — encoding/rate/channels from the parsed header,
    // frame count and sample checksum from the streamed PCM. Lossless,
    // so the oracle recomputes the checksum in BIGINT arithmetic.
    QueryDef(
      "multimodal_audio_real",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(128))).cast("int").as("n"))
        Multimodal.decodeAudio(
          Multimodal.encodeAudio(params, "doc_id", "n", sampleRate = 8000),
          "media_id", "payload")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents)
        SELECT p.doc_id AS media_id, 'PCM_SIGNED' AS encoding,
               CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
               p.n AS n_samples,
               CAST(SUM(((p.doc_id % 65536) * 31 + i.i * 2654435761) % 65536 - 32768) AS BIGINT) AS sample_sum
        FROM p, generate_series(0, 191) AS i(i)
        WHERE i.i < p.n
        GROUP BY 1, 2, 3, 4, 5""")),

    // REAL audio format conversion (the transform stage on top of the
    // codec roundtrip): mono clips convert to stereo through the JDK's
    // AudioSystem converter chain. Channel duplication is exact —
    // every frame carries the mono sample twice — so the oracle pins
    // the CONVERTED stream's checksum to exactly 2x the sampleValue
    // sum in BIGINT arithmetic. (Sample-RATE conversion runs the
    // JDK's interpolating resampler — implementation-defined values,
    // covered by spec invariants instead.)
    QueryDef(
      "multimodal_audio_convert",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(128))).cast("int").as("n"))
        Multimodal.convertAudio(
          Multimodal.encodeAudio(params, "doc_id", "n", sampleRate = 8000),
          "media_id", "payload", targetRate = 8000, targetChannels = 2)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents)
        SELECT p.doc_id AS media_id,
               CAST(8000 AS INTEGER) AS sample_rate, CAST(2 AS INTEGER) AS channels,
               p.n AS n_frames,
               CAST(2 * SUM(((p.doc_id % 65536) * 31 + i.i * 2654435761) % 65536 - 32768) AS BIGINT) AS sample_sum
        FROM p, generate_series(0, 191) AS i(i)
        WHERE i.i < p.n
        GROUP BY 1, 2, 3, 4""")),

    // REAL image feature extraction (decode → channel sums + 2x2
    // pooled-grayscale grid): every value is an integer sum over the
    // decoded raster, so the oracle rebuilds the full feature vector
    // from the pixelValue contract — r/g/b by integer div/mod, pool
    // cells by the x*2 DIV w bucket — in exact BIGINT SQL.
    QueryDef(
      "multimodal_features",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(4) + pmod(col("doc_id"), lit(8))).cast("int").as("w"),
          (lit(4) + pmod(floor(col("doc_id") / lit(8.0)).cast("long"), lit(8)))
            .cast("int").as("h"),
          when(pmod(col("doc_id"), lit(2)) === 0, "png").otherwise("bmp").as("fmt"))
        Multimodal.imageFeatures(
          Multimodal.encodeImage(params, "doc_id", "w", "h", "fmt"),
          "media_id", "payload", pool = 2)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(4 + doc_id % 8 AS INT) AS w,
                 CAST(4 + (doc_id // 8) % 8 AS INT) AS h
          FROM documents),
        px AS (
          SELECT p.doc_id, p.w, p.h, xs.x, ys.y,
                 ((p.doc_id % 16777216) * 2654435761
                   + xs.x * 40503 + ys.y * 69061) % 16777216 AS v,
                 (xs.x * 2) // p.w AS ci, (ys.y * 2) // p.h AS cj
          FROM p, generate_series(0, 10) AS xs(x), generate_series(0, 10) AS ys(y)
          WHERE xs.x < p.w AND ys.y < p.h)
        SELECT doc_id AS media_id, w AS width, h AS height,
               CAST(SUM(v // 65536) AS BIGINT) AS r_sum,
               CAST(SUM((v // 256) % 256) AS BIGINT) AS g_sum,
               CAST(SUM(v % 256) AS BIGINT) AS b_sum,
               CAST(SUM(CASE WHEN ci = 0 AND cj = 0 THEN v // 65536 + (v // 256) % 256 + v % 256 END) AS BIGINT) AS g_0_0,
               CAST(SUM(CASE WHEN ci = 0 AND cj = 1 THEN v // 65536 + (v // 256) % 256 + v % 256 END) AS BIGINT) AS g_0_1,
               CAST(SUM(CASE WHEN ci = 1 AND cj = 0 THEN v // 65536 + (v // 256) % 256 + v % 256 END) AS BIGINT) AS g_1_0,
               CAST(SUM(CASE WHEN ci = 1 AND cj = 1 THEN v // 65536 + (v // 256) % 256 + v % 256 END) AS BIGINT) AS g_1_1
        FROM px
        GROUP BY 1, 2, 3""")),

    // REAL video demux + frame sampling: RIFF-AVI containers built
    // in-engine with uncompressed bottom-up 24-bit DIB frames (the
    // framePixel contract), demuxed by the from-scratch RIFF chunk
    // walker and sampled every 2nd frame. DIB involves no codec, so
    // the oracle rebuilds per-frame top-left pixel AND checksum in
    // plain BIGINT SQL — a value-level proof that a real container
    // parse, frame explode, and bottom-up un-flip ran (pix00 pins the
    // row order; the checksum alone is orientation-blind).
    QueryDef(
      "multimodal_video_frames",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(4) + pmod(col("doc_id"), lit(5))).cast("int").as("n"),
          (lit(4) + pmod(col("doc_id"), lit(6))).cast("int").as("w"),
          (lit(3) + pmod(floor(col("doc_id") / lit(6.0)).cast("long"), lit(5)))
            .cast("int").as("h"),
          lit("dib").as("codec"))
        Multimodal.sampleVideoFrames(
          Multimodal.encodeVideo(params, "doc_id", "n", "w", "h", "codec"),
          "media_id", "payload", stride = 2)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, 4 + doc_id % 5 AS n,
                 CAST(4 + doc_id % 6 AS INT) AS w,
                 CAST(3 + (doc_id // 6) % 5 AS INT) AS h
          FROM documents),
        fr AS (
          SELECT p.doc_id, p.w, p.h, fs.f,
                 ((p.doc_id % 16777216) * 1000003 + fs.f) % 16777216 AS fid
          FROM p, generate_series(0, 7) AS fs(f)
          WHERE fs.f < p.n AND fs.f % 2 = 0)
        SELECT fr.doc_id AS media_id, CAST(fr.f AS BIGINT) AS frame_idx,
               'dib' AS codec, fr.w AS width, fr.h AS height,
               CAST((fr.fid * 2654435761) % 16777216 AS INT) AS pix00,
               CAST(SUM((fr.fid * 2654435761 + xs.x * 40503 + ys.y * 69061)
                 % 16777216) AS BIGINT) AS pix_sum
        FROM fr, generate_series(0, 8) AS xs(x), generate_series(0, 6) AS ys(y)
        WHERE xs.x < fr.w AND ys.y < fr.h
        GROUP BY 1, 2, 3, 4, 5, 6""")),

    // Interleaved A/V container demux: two-stream AVI (DIB video +
    // 16-bit PCM audio, each frame's 01wb slice following its 00db
    // chunk, as real muxers interleave), audio stream demuxed back OUT
    // of the interleave by stream index and reassembled in chunk
    // order. The PCM carries the same sampleValue contract as the WAV
    // work, so the oracle pins the reassembled checksum exactly — a
    // value-level proof of multi-stream routing, not just chunk
    // walking (any slice misrouted or reordered breaks the sum).
    QueryDef(
      "multimodal_video_audio",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(2) + pmod(col("doc_id"), lit(3))).cast("int").as("nf"),
          lit(4).cast("int").as("w"), lit(4).cast("int").as("h"),
          (lit(64) + pmod(col("doc_id"), lit(128))).cast("int").as("ns"))
        Multimodal.demuxAviAudio(
          Multimodal.encodeAv(params, "doc_id", "nf", "w", "h", "ns"),
          "media_id", "payload")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents)
        SELECT p.doc_id AS media_id,
               CAST(8000 AS INTEGER) AS sample_rate, CAST(1 AS INTEGER) AS channels,
               p.n AS n_samples,
               CAST(SUM(((p.doc_id % 65536) * 31 + i.i * 2654435761) % 65536 - 32768) AS BIGINT) AS sample_sum
        FROM p, generate_series(0, 191) AS i(i)
        WHERE i.i < p.n
        GROUP BY 1, 2, 3, 4""")),

    // Motion-JPEG flavor of the same demux: each '00dc' frame is a
    // real JPEG decoded by the JDK reader. JPEG is lossy, so pixel
    // VALUES are codec-defined — the oracle checks the invariant
    // surface (frame fan-out, dims from the decoded raster, codec
    // detection from the container header, a raster actually decoded)
    // the way the ANN-recall oracles do; value determinism is
    // spec-pinned (MultimodalSpec).
    QueryDef(
      "multimodal_video_mjpeg",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(2) + pmod(col("doc_id"), lit(3))).cast("int").as("n"),
          lit(16).cast("int").as("w"), lit(8).cast("int").as("h"),
          lit("mjpg").as("codec"))
        Multimodal.sampleVideoFrames(
          Multimodal.encodeVideo(params, "doc_id", "n", "w", "h", "codec"),
          "media_id", "payload", stride = 1)
          .select(col("media_id"), col("frame_idx"), col("codec"),
            col("width"), col("height"),
            (col("pix_sum").isNotNull &&
              col("pix_sum") <= lit(16L * 8L * 0xffffffL)).as("decoded_ok"))
      },
      Some("""
        SELECT doc_id AS media_id, CAST(fs.f AS BIGINT) AS frame_idx,
               'mjpg' AS codec, CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
               true AS decoded_ok
        FROM documents, generate_series(0, 3) AS fs(f)
        WHERE fs.f < 2 + doc_id % 3""")),

    // REAL audio feature extraction (decode → 4 windowed spans →
    // integer DC/energy/power sums): every value is an integer sum
    // over the decoded PCM, so the oracle rebuilds the full feature
    // set from the sampleValue contract in exact BIGINT SQL (window
    // of sample i is i*4 DIV n).
    QueryDef(
      "multimodal_audio_features",
      (s, dir) => {
        val params = table(s, dir, "documents").select(
          col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(128))).cast("int").as("n"))
        Multimodal.audioFeatures(
          Multimodal.encodeAudio(params, "doc_id", "n", sampleRate = 8000),
          "media_id", "payload", windows = 4)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, CAST(64 + doc_id % 128 AS BIGINT) AS n FROM documents),
        sm AS (
          SELECT p.doc_id, CAST((i.i * 4) // p.n AS INT) AS win,
                 ((p.doc_id % 65536) * 31 + i.i * 2654435761) % 65536 - 32768 AS s
          FROM p, generate_series(0, 191) AS i(i)
          WHERE i.i < p.n)
        SELECT doc_id AS media_id, win,
               CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(s) AS BIGINT) AS sum_s,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(SUM(s * s) AS BIGINT) AS sum_sq
        FROM sm
        GROUP BY 1, 2""")),

    // SequenceExample wire-format round-trip: embeddings encoded with
    // scalar context + per-element FeatureList steps, decoded back and
    // re-projected (proves the format the reference declared but never
    // implemented, converters.py:55-57).
    QueryDef(
      "tfsequence_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        import graft.encode.{TfExample, TfSequenceExampleEncoder}
        val src = table(s, dir, "embeddings").select("vec_id", "embedding")
        val schema = src.schema
        val out = StructType(Seq(
          StructField("vec_id", LongType),
          StructField("n_steps", LongType),
          StructField("first_v", FloatType),
          StructField("last_v", FloatType)))
        val enc = org.apache.spark.sql.Encoders.row(out)
        src.mapPartitions { rows =>
          val write = TfSequenceExampleEncoder.compile(schema)
          rows.map { r =>
            val bytes = write(r)
            val (ctx, lists) = TfExample.decodeSequence(bytes)
            val TfExample.Int64s(Seq(id)) = ctx("vec_id")
            val steps = lists("embedding")
            val TfExample.Floats(Seq(first)) = steps.head
            val TfExample.Floats(Seq(last)) = steps.last
            org.apache.spark.sql.Row(id, steps.size.toLong, first, last)
          }
        }(enc)
      },
      Some("""
        SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_steps,
               embedding[1] AS first_v, embedding[len(embedding)] AS last_v
        FROM embeddings""")),

    // Write → distributed read-back → decode: closes the S5 loop (the
    // output of the reference's WriteSplit, executor.py:163-164, is
    // re-consumable as a distributed source). Identity oracle proves
    // the full wire round-trip value-for-value.
    QueryDef(
      "tfrecord_read_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.types._
        import graft.encode.TfExample
        val src = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
        val payloads = graft.run.Runner.encode(src)
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-tfrecord-roundtrip"
        graft.io.TfRecordSink.write(payloads, out, "all") // sink cleans stale shards
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("n_chars", LongType)))
        val enc = org.apache.spark.sql.Encoders.row(outSchema)
        graft.io.TfRecordSource.read(s, out, "all").mapPartitions { it =>
          it.map { bytes =>
            val m = TfExample.decode(bytes)
            val TfExample.Int64s(Seq(id)) = m("doc_id")
            val TfExample.Bytes(Seq(lang)) = m("lang")
            val TfExample.Int64s(Seq(nc)) = m("n_chars")
            org.apache.spark.sql.Row(id, new String(lang, "UTF-8"), nc)
          }
        }(enc)
      },
      Some("SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars FROM documents")),

    // Columnar-format interchange beyond parquet: write → read back
    // through Spark's native ORC source (zlib), identity oracle — the
    // lake-format flexibility a 100 TB deployment needs when the
    // surrounding warehouse standardized on ORC. Path is
    // applicationId-suffixed (the classifier-weights de-race pattern:
    // stable within one app, distinct across concurrent harness runs).
    QueryDef(
      "orc_roundtrip",
      (s, dir) => {
        val src = table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        val out = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-orc-" +
            s.sparkContext.applicationId)
        src.write.mode("overwrite").format("orc")
          .option("compression", "zlib").save(out)
        s.read.format("orc").load(out)
      },
      Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders")),

    QueryDef(
      "multimodal_resize",
      (s, dir) => Multimodal.stubResize(
        Multimodal.stubDecode(
          Multimodal.asPayload(table(s, dir, "documents"), "doc_id", "text"),
          "media_id", "payload"),
        targetW = 32, targetH = 32),
      Some("""
        WITH decoded AS (
          SELECT doc_id AS media_id,
                 16 + (length(text) % 64) AS w,
                 16 + ((length(text) // 64) % 64) AS h
          FROM documents)
        SELECT media_id,
               CAST(floor(w * least(32.0 / w, 32.0 / h)) AS INTEGER) AS out_w,
               CAST(floor(h * least(32.0 / w, 32.0 / h)) AS INTEGER) AS out_h,
               least(32.0 / w, 32.0 / h) AS scale_x,
               least(32.0 / w, 32.0 / h) AS scale_y
        FROM decoded""")),

    // Frame sampling: payload split into fixed-length frames, every
    // stride-th emitted. documents.text is pure ASCII in the testdata,
    // so byte frames == character substrings and the oracle can build
    // the exact frame blobs with encode(substr(...)).
    QueryDef(
      "multimodal_frames",
      // Binary frame payload canonicalized to its md5 hex digest: the
      // correctness driver's pandas comparator can't hash bytearray
      // cells, and md5-of-bytes is engine-portable (text is ASCII, so
      // DuckDB's varchar md5 hashes the same bytes).
      (s, dir) => Multimodal.stubFrameSample(
        Multimodal.asPayload(table(s, dir, "documents"), "doc_id", "text"),
        "media_id", "payload", frameLen = 16, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame_payload")).as("frame_md5")),
      Some("""
        SELECT doc_id AS media_id,
               CAST(f AS BIGINT) AS frame_idx,
               md5(substr(text, CAST(f AS INTEGER) * 16 + 1, 16)) AS frame_md5
        FROM documents,
             unnest(range(0, length(text) // 16, 2)) t(f)""")),

    // Corpus-trained bigram-LM scoring: per-doc cross-entropy under an
    // add-1-smoothed bigram model trained on the corpus itself — the
    // CCNet/Gopher perplexity-filter stage.
    QueryDef(
      "lm_score",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.LanguageModel.bigramCrossEntropy(docs, docs, "doc_id", "text")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM pr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM pr GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q)
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(-ln((c12 + 1.0) / (c1 + 1.0 * v)) AS DECIMAL(28,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS cross_entropy
        FROM pr
        JOIN c12 USING (bg)
        JOIN c1 ON split_part(pr.bg, ' ', 1) = c1.w1
        CROSS JOIN v
        GROUP BY pr.id""")),

    // Interpolated Kneser-Ney bigram scoring — the KenLM/CCNet
    // smoothing family, exactly replicated in SQL: distinct-extension
    // counts (N1+) from the distinct-bigram table, absolute
    // discounting with mass-preserving continuation interpolation,
    // and the ε-floor for OOV mass. Self-scoring means every scored
    // bigram is seen, so the oracle needs only the seen-prefix branch
    // of the formula; both engines run the identical double
    // arithmetic left-to-right, round each −ln term to 9 dp, and sum
    // through DECIMAL (order-free).
    QueryDef(
      "lm_score_kn",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.LanguageModel.kneserNeyCrossEntropy(
          docs, docs, "doc_id", "text")
      },
      Some(LmScoreKnSql)),

    // MODIFIED Kneser-Ney — the KenLM default: three discounts
    // estimated from the training count-of-counts by the
    // Chen-Goodman closed form, count-class back-off weights, same
    // continuation base. The discounts are data-dependent doubles
    // computed from the SAME aggregates in both engines (the engine
    // embeds them as plan literals off a 1-row driver collect; the
    // oracle computes them in a CTE — identical IEEE arithmetic
    // either way).
    //
    // The SYNTHETIC corpus loses its Zipf tail as SF grows (at sf0.1
    // the raw count-of-counts are (0, 0, 1, 3) — almost every bigram
    // repeats — and the closed form correctly fails fast), so the
    // query appends a deterministic tail derived from doc_id:
    // per-doc unique tokens make singletons, id/2-, id/3-, id/4-
    // keyed pairs make exact count-2/3/4 classes — at ANY scale,
    // identically in both engines (the pii_redact synthesis pattern;
    // the operator under test never depends on the synthesis).
    QueryDef(
      "lm_score_mkn",
      (s, dir) => {
        // floor(), not a bare double-divide + cast: cast truncates
        // toward zero while the DuckDB oracle's `//` floors, and the
        // two disagree on negative ids — floor() makes both engines
        // floor identically for ANY id range (r12 ADVICE).
        val k = (d: Int) => floor(col("doc_id") / d).cast("long").cast("string")
        val docs = table(s, dir, "documents")
          .withColumn("text", concat(col("text"),
            lit(" xa"), col("doc_id").cast("string"),
            lit(" xb"), k(2), lit(" xc"), k(2),
            lit(" xd"), k(3), lit(" xe"), k(3),
            lit(" xf"), k(4), lit(" xg"), k(4)))
        graft.ops.LanguageModel.modifiedKneserNeyCrossEntropy(
          docs, docs, "doc_id", "text")
      },
      Some("""
        WITH d0 AS (
          SELECT doc_id,
                 concat(text,
                        ' xa', CAST(doc_id AS VARCHAR),
                        ' xb', CAST(doc_id // 2 AS VARCHAR),
                        ' xc', CAST(doc_id // 2 AS VARCHAR),
                        ' xd', CAST(doc_id // 3 AS VARCHAR),
                        ' xe', CAST(doc_id // 3 AS VARCHAR),
                        ' xf', CAST(doc_id // 4 AS VARCHAR),
                        ' xg', CAST(doc_id // 4 AS VARCHAR)) AS text
          FROM documents),
        w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM d0),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM pr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1,
                      SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS nn1,
                      SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS nn2,
                      SUM(CASE WHEN c12 >= 3 THEN 1 ELSE 0 END) AS nn3
               FROM c12 GROUP BY 1),
        n1c AS (SELECT split_part(bg, ' ', -1) AS w2, COUNT(*) AS n1c
                FROM c12 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM c12),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q),
        cc AS (SELECT SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS cc1,
                      SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS cc2,
                      SUM(CASE WHEN c12 = 3 THEN 1 ELSE 0 END) AS cc3,
                      SUM(CASE WHEN c12 = 4 THEN 1 ELSE 0 END) AS cc4
               FROM c12),
        yy AS (SELECT cc1 / (cc1 + 2.0 * cc2) AS y, cc1, cc2, cc3, cc4 FROM cc),
        dd AS (SELECT 1.0 - 2.0 * y * cc2 / cc1 AS d1,
                      2.0 - 3.0 * y * cc3 / cc2 AS d2,
                      3.0 - 4.0 * y * cc4 / cc3 AS d3
               FROM yy)
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     ((c12 - CASE WHEN c12 = 1 THEN d1
                                  WHEN c12 = 2 THEN d2
                                  ELSE d3 END) / c1
                      + (d1 * nn1 + d2 * nn2 + d3 * nn3) / c1 * (n1c / n1pp))
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS mkn_cross_entropy
        FROM pr
        JOIN c12 USING (bg)
        JOIN c1 ON split_part(pr.bg, ' ', 1) = c1.w1
        JOIN n1c ON split_part(pr.bg, ' ', -1) = n1c.w2
        CROSS JOIN n1pp CROSS JOIN v CROSS JOIN dd
        GROUP BY pr.id""")),

    // Held-out discount selection: fit the KN count tables on the
    // EVEN half once, score the ODD half under three candidate
    // discounts — zero refits (smoothing is plan arithmetic over the
    // same model). One row per candidate with the corpus-level
    // DECIMAL-summed cross-entropy; every branch (seen prefix,
    // unseen prefix, unseen continuation) is live because the halves
    // differ.
    QueryDef(
      "lm_tune_discount",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
        LanguageModel.tuneKnDiscount(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          LanguageModel.fitKn(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text"),
          grid = Seq(0.25, 0.5, 0.75))
      },
      Some {
        def candidate(d: String) = s"""
        SELECT CAST($d AS DOUBLE) AS discount,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     (CASE WHEN c1 IS NULL THEN (COALESCE(n1c, 0) / n1pp)
                           ELSE greatest(COALESCE(c12, 0) - $d, 0.0) / c1
                                + $d * n1w1 / c1 * (COALESCE(n1c, 0) / n1pp)
                      END)
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS corpus_ce
        FROM sc
        LEFT JOIN c12 USING (bg)
        LEFT JOIN c1 ON split_part(sc.bg, ' ', 1) = c1.w1
        LEFT JOIN n1c ON split_part(sc.bg, ' ', -1) = n1c.w2
        CROSS JOIN n1pp CROSS JOIN v"""
        s"""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        tr AS (
          SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                 i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w WHERE doc_id % 2 = 0),
        sc AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w WHERE doc_id % 2 = 1),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM tr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1, COUNT(*) AS n1w1
               FROM c12 GROUP BY 1),
        n1c AS (SELECT split_part(bg, ' ', -1) AS w2, COUNT(*) AS n1c
                FROM c12 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM c12),
        v AS (SELECT COUNT(DISTINCT u) AS v
              FROM (SELECT unnest(ws) AS u FROM w WHERE doc_id % 2 = 0) q)
        ${candidate("0.25")}
        UNION ALL
        ${candidate("0.5")}
        UNION ALL
        ${candidate("0.75")}"""
      }),

    // Witten-Bell over the PERSISTED model — the third smoothing one
    // saved count-table artifact serves (KN, modified KN, WB): the
    // novel-continuation weight N1+(w1·)/(c(w1·)+N1+(w1·)) needs no
    // discount parameter at all. Save + load + serve inside the
    // query pins the one-artifact-many-smoothings contract.
    QueryDef(
      "lm_score_wb",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-wblm-" +
            s.sparkContext.applicationId)
        LanguageModel.saveKnModel(LanguageModel.fitKn(docs, "text"), path)
        LanguageModel.wittenBellAgainst(
          docs, "doc_id", "text", LanguageModel.loadKnModel(s, path))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM pr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1, COUNT(*) AS n1w1
               FROM c12 GROUP BY 1),
        n1c AS (SELECT split_part(bg, ' ', -1) AS w2, COUNT(*) AS n1c
                FROM c12 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM c12),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q)
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     (c12 / (c1 + n1w1)
                      + n1w1 / (c1 + n1w1) * (n1c / n1pp))
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS wb_cross_entropy
        FROM pr
        JOIN c12 USING (bg)
        JOIN c1 ON split_part(pr.bg, ' ', 1) = c1.w1
        JOIN n1c ON split_part(pr.bg, ' ', -1) = n1c.w2
        CROSS JOIN n1pp CROSS JOIN v
        GROUP BY pr.id""")),

    // Order-3 interpolated Kneser-Ney — the recursive Chen-Goodman
    // form (KenLM's shape at order 5): raw counts at the top,
    // continuation TYPE counts in the middle, the unigram
    // continuation base, one discount per level. Self-scoring keeps
    // every branch on the seen path, so the oracle is the identical
    // double arithmetic at all three levels, 9 dp + DECIMAL summed.
    QueryDef(
      "lm_score_kn3",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        graft.ops.LanguageModel.kneserNeyTrigramCrossEntropy(
          docs, docs, "doc_id", "text")
      },
      Some(LmScoreKn3Sql)),

    // Persisted order-3 KN serving — the trigram sibling of
    // lm_score_kn_serve: six count tables fitted once, saved, loaded,
    // scored with zero training passes; the oracle is lm_score_kn3's
    // SQL VERBATIM (integer counts round-trip parquet exactly, so
    // this pins the save/load/serve plumbing).
    QueryDef(
      "lm_score_kn3_serve",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-kn3lm-" +
            s.sparkContext.applicationId)
        LanguageModel.saveKn3Model(LanguageModel.fitKn3(docs, "text"), path)
        LanguageModel.kneserNeyTrigramAgainst(
          docs, "doc_id", "text", LanguageModel.loadKn3Model(s, path))
      },
      Some(LmScoreKn3Sql)),


    // Order-5 MODIFIED Kneser-Ney — KenLM's production default
    // configuration: the kn3 recursion extended two levels with
    // per-level Chen-Goodman discounts estimated from each level's
    // own count-of-counts. The synthetic corpus cannot supply
    // count-class decay at four orders (31 distinct words), so the
    // query appends 16 deterministic doc_id-derived "gadget"
    // sentences — one per (level, count-class): a gadget for
    // (L, j) carries 5-L id-keyed words then floor(id/j)-keyed words,
    // which plants types of count exactly j at level L (groups of j
    // consecutive ids share the group-keyed suffix) — at ANY scale,
    // identically in both engines (the lm_score_mkn Zipf-tail
    // pattern, taken to all four levels; Spark expression and DuckDB
    // SQL generate from ONE gadget table so they cannot drift).
    // Self-scored, so every backoff branch stays on the seen path
    // and the oracle is the identical double arithmetic at all five
    // levels, 9 dp + DECIMAL summed.
    QueryDef(
      "lm_score_kn5",
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .withColumn("text", Kn5EnrichSpark)
        graft.ops.LanguageModel.modifiedKn5CrossEntropy(
          docs, docs, "doc_id", "text")
      },
      Some(LmScoreKn5Sql)),

    // Persisted order-5 model serving — ten count tables fitted once,
    // saved, loaded, scored with zero training passes; the per-level
    // discounts ride the flat layout's save-time `disc` sidecar (r17
    // — integer counts round-trip parquet exactly, so sidecar and
    // re-estimation are the same bits). The serve keeps the DEFAULT
    // shuffle cascade: self-scoring the corpus is exactly the
    // geometry the cascade exists for, and this round MEASURED the
    // broadcast-semi alternative at this batch size (~870k distinct
    // keys, just under the 1M driver bound) at 4× worse warm — ten
    // near-bound broadcasts thrash the JVM. Oracle: lm_score_kn5's
    // SQL VERBATIM.
    QueryDef(
      "lm_score_kn5_serve",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
          .withColumn("text", Kn5EnrichSpark)
        val path = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-kn5lm-" +
            s.sparkContext.applicationId)
        LanguageModel.saveKn5Model(LanguageModel.fitKn5(docs, "text"), path)
        LanguageModel.modifiedKn5Against(
          docs, "doc_id", "text", LanguageModel.loadKn5Model(s, path))
      },
      Some(LmScoreKn5Sql)),

    // The SAME order-5 serve through the KEY-BUCKETED layout
    // (saveKn5ModelPartitioned → loadKn5Model → modifiedKn5Against,
    // which serves a key-bucketed model partition-pruned): nine count
    // tables in key-hash partition directories, the batch's
    // (table, bucket) probe set pruning each BEFORE the broadcast-semi
    // join, discounts from the save-time sidecar instead of a
    // per-serve count-of-counts scan.
    // Shares lm_score_kn5's SQL VERBATIM — the layout may only change
    // which files are read, never a row (the dedup_*_serve pattern at
    // the LM face).
    QueryDef(
      "lm_score_kn5_pruned",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
          .withColumn("text", Kn5EnrichSpark)
        val path = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-kn5part-" +
            s.sparkContext.applicationId)
        LanguageModel.saveKn5ModelPartitioned(
          LanguageModel.fitKn5(docs, "text"), path, nKeyBuckets = 16)
        LanguageModel.modifiedKn5Against(
          docs, "doc_id", "text", LanguageModel.loadKn5Model(s, path))
      },
      Some(LmScoreKn5Sql)),

    // Persisted-model KN serving — the CCNet deployment shape: fit
    // the count tables once, save as parquet, load, score with ZERO
    // training passes. The oracle is lm_score_kn's SQL VERBATIM (the
    // pit_manyviews_fused pattern): a persisted-and-reloaded model
    // must reproduce the in-engine scores bit-identically (counts are
    // integers, so the parquet round trip is exact by construction —
    // this pins the save/load/serve plumbing, not float luck).
    QueryDef(
      "lm_score_kn_serve",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
        val path = QueryDef.deleteOnExit(
          s"${System.getProperty("java.io.tmpdir")}/graft-knlm-" +
            s.sparkContext.applicationId)
        LanguageModel.saveKnModel(LanguageModel.fitKn(docs, "text"), path)
        LanguageModel.kneserNeyAgainst(
          docs, "doc_id", "text", LanguageModel.loadKnModel(s, path))
      },
      Some(LmScoreKnSql)),

    // CCNet head/middle/tail perplexity bucketing over the add-1
    // bigram scores: tercile thresholds from ONE broadcast 1-row
    // aggregate (exact percentile here — the oracle path; the approx
    // sketch is the 100 TB default), assignment by map-side
    // comparison with both sides rounded to 9 dp. No global sort, no
    // single-partition window.
    QueryDef(
      "lm_ppl_buckets",
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val scored = graft.ops.LanguageModel.bigramCrossEntropy(
          docs, docs, "doc_id", "text")
        graft.ops.LanguageModel.perplexityBuckets(
          scored, "doc_id", "cross_entropy", nBuckets = 3,
          exactThresholds = true)
          .select("doc_id", "cross_entropy", "ppl_bucket")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM pr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM pr GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q),
        scored AS (
          SELECT pr.id AS doc_id,
                 CAST(SUM(CAST(-ln((c12 + 1.0) / (c1 + 1.0 * v)) AS DECIMAL(28,12))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS cross_entropy
          FROM pr
          JOIN c12 USING (bg)
          JOIN c1 ON split_part(pr.bg, ' ', 1) = c1.w1
          CROSS JOIN v
          GROUP BY pr.id),
        t AS (
          SELECT quantile_cont(cross_entropy, 1.0/3.0) AS t1,
                 quantile_cont(cross_entropy, 2.0/3.0) AS t2
          FROM scored)
        SELECT doc_id, cross_entropy,
               1 + CAST(round(cross_entropy, 9) > round(t1, 9) AS INTEGER)
                 + CAST(round(cross_entropy, 9) > round(t2, 9) AS INTEGER)
                 AS ppl_bucket
        FROM scored CROSS JOIN t""")),

    // Corpus novelty audit: fit the KN count tables on the EVEN-id
    // half, report each ODD doc's unseen-bigram fraction — the
    // freshness/contamination dial between snapshots (near-zero
    // novelty flags a re-crawl; near-one flags out-of-domain). Pure
    // integer arithmetic → exact cross-engine.
    QueryDef(
      "lm_novelty",
      (s, dir) => {
        import graft.ops.LanguageModel
        val docs = table(s, dir, "documents")
        LanguageModel.noveltyRate(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          LanguageModel.fitKn(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        tr AS (
          SELECT DISTINCT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                 i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w WHERE doc_id % 2 = 0),
        sc AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w WHERE doc_id % 2 = 1)
        SELECT sc.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN tr.bg IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
               CAST(SUM(CASE WHEN tr.bg IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
        FROM sc LEFT JOIN tr ON sc.bg = tr.bg
        GROUP BY 1""")),

    // Deterministic corpus shuffle: reproducible (shard, pos) address
    // for every document — no rand(), no global sort, no
    // single-partition window.
    QueryDef(
      "corpus_shuffle",
      (s, dir) => graft.ops.Sampling.shuffleAssign(
        table(s, dir, "documents").select("doc_id"), "doc_id", shards = 16)
        .select("doc_id", "shard", "pos"),
      Some("""
        SELECT doc_id,
               ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 16 AS shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 16
                 ORDER BY ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761 % 1000003) % 1000003,
                          doc_id) AS BIGINT) AS pos
        FROM documents""")),

    // Streaming-shaped tumbling-window aggregation over the events
    // table (batch here; StreamingSpec runs the same plan through
    // Structured Streaming).
    QueryDef(
      "events_windowed",
      (s, dir) => table(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value")),
      Some("""
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2"""))
  )

  /** Shared verbatim by lm_score_kn3 and lm_score_kn3_serve (lazy:
    * referenced from `all` above) — order-3 interpolated Kneser-Ney,
    * self-trained on the documents corpus. */
  /** The 16 order-5 MKN synthesis gadgets — (level, count-class)
    * pairs, each a 5-word sentence whose first `5 − level` words key
    * on doc_id (fine) and the rest on floor(doc_id / class) (group):
    * groups of `class` consecutive ids share the group-keyed suffix,
    * planting n-gram types of count exactly `class` at exactly
    * `level`. Spark Column and DuckDB SQL emit from this ONE table so
    * the two engines' synthesized text is identical by construction. */
  private lazy val Kn5Gadgets: Seq[(org.apache.spark.sql.Column, String)] =
    for {
      lvl <- 5 to 2 by -1
      j <- 1 to 4
      // Copies per class steepen the count-of-counts decay
      // (n2 : n3 : n4 ≈ 3/2 : 2/3 : 1/4 of the doc count) so every
      // level's closed-form D2/D3+ sits WELL inside its bounds at any
      // corpus size — a flat 1:1:1 planting leaves D3+ = 3 − 4·Y·n4/n3
      // within rounding of zero (n4/n3 = 3/4 vs the 3/(4Y) bound).
      c <- 1 to Seq(1, 3, 2, 1)(j - 1)
      (p, idx) <- Seq("a", "b", "c", "d", "e").zipWithIndex
    } yield {
      val fine = idx < 5 - lvl
      val tag = s" g$lvl$j$c$p"
      val sparkKey =
        if (fine) col("doc_id").cast("string")
        else floor(col("doc_id") / j).cast("long").cast("string")
      val sqlKey =
        if (fine) "CAST(doc_id AS VARCHAR)"
        else s"CAST(doc_id // $j AS VARCHAR)"
      (concat(lit(tag), sparkKey), s"'$tag', $sqlKey")
    }

  private lazy val Kn5EnrichSpark: org.apache.spark.sql.Column =
    concat((col("text") +: Kn5Gadgets.map(_._1)): _*)

  /** The gadget-enrichment column (doc_id-keyed), exposed for the
    * serve canary's order-5 faces: any corpus with a `doc_id` and a
    * `text` column gains count-class decay at every order, so
    * order-5 MKN fits/serves become measurable on synthetic data. */
  private[graft] def kn5GadgetEnrich: org.apache.spark.sql.Column =
    Kn5EnrichSpark

  /** Shared verbatim by lm_score_kn5 and lm_score_kn5_serve: the full
    * order-5 modified-KN recursion — per-level count tables, per-level
    * closed-form discounts from count-of-counts, class-sum back-off
    * weights — over the gadget-enriched corpus. Every arithmetic step
    * mirrors the Spark side's evaluation order (y computed once per
    * level; gamma as d1·k1 + d2·k2 + d3·k3 left-to-right; division
    * before the lower-order multiply). */
  private lazy val LmScoreKn5Sql: String = {
    def parts(src: String, from: Int, to: Int): String =
      (from to to).map(i => s"split_part($src, ' ', $i)")
        .mkString(" || ' ' || ")
    def classes(c: String, sfx: String): String =
      s"""SUM(CASE WHEN $c = 1 THEN 1 ELSE 0 END) AS k1_$sfx,
         |               SUM(CASE WHEN $c = 2 THEN 1 ELSE 0 END) AS k2_$sfx,
         |               SUM(CASE WHEN $c >= 3 THEN 1 ELSE 0 END) AS k3_$sfx""".stripMargin
    def cc(src: String, c: String, name: String): String =
      s"""$name AS (SELECT SUM(CASE WHEN $c = 1 THEN 1 ELSE 0 END) AS c1,
         |                 SUM(CASE WHEN $c = 2 THEN 1 ELSE 0 END) AS c2,
         |                 SUM(CASE WHEN $c = 3 THEN 1 ELSE 0 END) AS c3,
         |                 SUM(CASE WHEN $c = 4 THEN 1 ELSE 0 END) AS c4c
         |          FROM $src)""".stripMargin
    def dd(ccName: String, name: String): String =
      s"""${name}y AS (SELECT c1 / (c1 + 2.0 * c2) AS y, c1, c2, c3, c4c FROM $ccName),
         |        $name AS (SELECT 1.0 - 2.0 * y * c2 / c1 AS d1,
         |                         2.0 - 3.0 * y * c3 / c2 AS d2,
         |                         3.0 - 4.0 * y * c4c / c3 AS d3 FROM ${name}y)""".stripMargin
    def mknSql(num: String, den: String, sfx: String, d: String,
        lower: String): String =
      s"""greatest($num - (CASE WHEN $num = 1 THEN $d.d1 WHEN $num = 2 THEN $d.d2 ELSE $d.d3 END), 0.0) / $den
         |                      + ($d.d1 * k1_$sfx + $d.d2 * k2_$sfx + $d.d3 * k3_$sfx) / $den * ($lower)""".stripMargin
    val enrich = "concat(text, " + Kn5Gadgets.map(_._2).mkString(", ") + ")"
    val p1 = "n1c / n1pp"
    val p2 = mknSql("t2", "tsum2", "2", "dd2", p1)
    val p3 = mknSql("t3", "tsum3", "3", "dd3", p2)
    val p4x = mknSql("t4", "tsum4", "4", "dd4", p3)
    val p5 = mknSql("c5", "c4", "5", "dd5", p4x)
    s"""
        WITH d0 AS (
          SELECT doc_id, $enrich AS text FROM documents),
        w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
          FROM d0),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS fg
          FROM w),
        c5 AS (SELECT fg, COUNT(*) AS c5 FROM pr GROUP BY fg),
        p4 AS (SELECT ${parts("fg", 1, 4)} AS p1234,
               SUM(c5) AS c4,
               ${classes("c5", "5")}
               FROM c5 GROUP BY 1),
        t4 AS (SELECT ${parts("fg", 2, 5)} AS s2345, COUNT(*) AS t4
               FROM c5 GROUP BY 1),
        d4 AS (SELECT ${parts("s2345", 1, 3)} AS p234,
               SUM(t4) AS tsum4,
               ${classes("t4", "4")}
               FROM t4 GROUP BY 1),
        t3 AS (SELECT ${parts("s2345", 2, 4)} AS s345, COUNT(*) AS t3
               FROM t4 GROUP BY 1),
        d3 AS (SELECT ${parts("s345", 1, 2)} AS p34,
               SUM(t3) AS tsum3,
               ${classes("t3", "3")}
               FROM t3 GROUP BY 1),
        t2 AS (SELECT ${parts("s345", 2, 3)} AS s45, COUNT(*) AS t2
               FROM t3 GROUP BY 1),
        d2 AS (SELECT split_part(s45, ' ', 1) AS w4d,
               SUM(t2) AS tsum2,
               ${classes("t2", "2")}
               FROM t2 GROUP BY 1),
        t1 AS (SELECT split_part(s45, ' ', 2) AS w5c, COUNT(*) AS n1c
               FROM t2 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM t2),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q),
        ${cc("c5", "c5", "cc5")},
        ${cc("t4", "t4", "cc4")},
        ${cc("t3", "t3", "cc3")},
        ${cc("t2", "t2", "cc2")},
        ${dd("cc5", "dd5")},
        ${dd("cc4", "dd4")},
        ${dd("cc3", "dd3")},
        ${dd("cc2", "dd2")}
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fivegrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     ($p5)
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS kn5_cross_entropy
        FROM pr
        JOIN c5 USING (fg)
        JOIN p4 ON ${parts("pr.fg", 1, 4)} = p4.p1234
        JOIN t4 ON ${parts("pr.fg", 2, 5)} = t4.s2345
        JOIN d4 ON ${parts("pr.fg", 2, 4)} = d4.p234
        JOIN t3 ON ${parts("pr.fg", 3, 5)} = t3.s345
        JOIN d3 ON ${parts("pr.fg", 3, 4)} = d3.p34
        JOIN t2 ON ${parts("pr.fg", 4, 5)} = t2.s45
        JOIN d2 ON split_part(pr.fg, ' ', 4) = d2.w4d
        JOIN t1 ON split_part(pr.fg, ' ', 5) = t1.w5c
        CROSS JOIN n1pp CROSS JOIN v
        CROSS JOIN dd5 CROSS JOIN dd4 CROSS JOIN dd3 CROSS JOIN dd2
        GROUP BY pr.id"""
  }

  private lazy val LmScoreKn3Sql = """
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS tg
          FROM w),
        c3 AS (SELECT tg, COUNT(*) AS c3 FROM pr GROUP BY tg),
        p12 AS (SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS p12,
                       SUM(c3) AS c2, COUNT(*) AS n3
                FROM c3 GROUP BY 1),
        t23 AS (SELECT split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS s23,
                       COUNT(*) AS t23
                FROM c3 GROUP BY 1),
        mid AS (SELECT split_part(s23, ' ', 1) AS w2m,
                       SUM(t23) AS tmid, COUNT(*) AS nmid
                FROM t23 GROUP BY 1),
        n1c3 AS (SELECT split_part(s23, ' ', 2) AS w3c, COUNT(*) AS n1c
                 FROM t23 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM t23),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q)
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_trigrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     (greatest(c3 - 0.75, 0.0) / c2
                      + 0.75 * n3 / c2 *
                        (greatest(t23 - 0.75, 0.0) / tmid
                         + 0.75 * nmid / tmid * (n1c / n1pp)))
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS kn3_cross_entropy
        FROM pr
        JOIN c3 USING (tg)
        JOIN p12 ON split_part(pr.tg, ' ', 1) || ' ' || split_part(pr.tg, ' ', 2) = p12.p12
        JOIN t23 ON split_part(pr.tg, ' ', 2) || ' ' || split_part(pr.tg, ' ', 3) = t23.s23
        JOIN mid ON split_part(pr.tg, ' ', 2) = mid.w2m
        JOIN n1c3 ON split_part(pr.tg, ' ', 3) = n1c3.w3c
        CROSS JOIN n1pp CROSS JOIN v
        GROUP BY pr.id"""

  /** Shared verbatim by lm_score_kn and lm_score_kn_serve (lazy:
    * referenced from `all` above) — interpolated Kneser-Ney bigram
    * scoring, self-trained on the documents corpus. */
  private lazy val LmScoreKnSql = """
        WITH w AS (
          SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        pr AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM w),
        c12 AS (SELECT bg, COUNT(*) AS c12 FROM pr GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1, COUNT(*) AS n1w1
               FROM c12 GROUP BY 1),
        n1c AS (SELECT split_part(bg, ' ', -1) AS w2, COUNT(*) AS n1c
                FROM c12 GROUP BY 1),
        n1pp AS (SELECT COUNT(*) AS n1pp FROM c12),
        v AS (SELECT COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM w) q)
        SELECT pr.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CAST(round(-ln(
                   (1.0 - 1.0e-6) *
                     (greatest(c12 - 0.75, 0.0) / c1
                      + 0.75 * n1w1 / c1 * (n1c / n1pp))
                   + 1.0e-6 / (v + 1.0)), 9) AS DECIMAL(24,9))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS kn_cross_entropy
        FROM pr
        JOIN c12 USING (bg)
        JOIN c1 ON split_part(pr.bg, ' ', 1) = c1.w1
        JOIN n1c ON split_part(pr.bg, ' ', -1) = n1c.w2
        CROSS JOIN n1pp CROSS JOIN v
        GROUP BY pr.id"""

  /** Shared verbatim by dedup_semantic_incremental and
    * dedup_semantic_serve (lazy: referenced from `all` above). */
  private lazy val DedupSemanticIncrementalSql = """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
               true AS subset_ok, true AS recall_ok
        FROM embeddings a JOIN embeddings b
          ON a.vec_id % 2 = 1 AND b.vec_id % 2 = 0
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.42"""

  /** Shared verbatim by dedup_exact_incremental and dedup_exact_serve
    * — the first-seen-wins classification of the odd-id arrival half
    * against the even-id index half. (lazy: referenced from `all`
    * above, which initializes first.) */
  private lazy val ExactIncrementalSql = """
        WITH n AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
          FROM documents),
        idx AS (
          SELECT h, MIN(doc_id) AS keep_id FROM n
          WHERE doc_id % 2 = 0 GROUP BY h),
        arr AS (SELECT doc_id, h FROM n WHERE doc_id % 2 = 1),
        batch AS (SELECT h, MIN(doc_id) AS bkeep FROM arr GROUP BY h)
        SELECT a.doc_id AS id, a.h AS text_hash,
               CASE WHEN i.keep_id IS NOT NULL THEN i.keep_id
                    WHEN b.bkeep <> a.doc_id THEN b.bkeep
                    ELSE NULL END AS dup_of
        FROM arr a
        LEFT JOIN idx i ON i.h = a.h
        LEFT JOIN batch b ON b.h = a.h"""

  /** Shared verbatim by dedup_simhash_incremental and
    * dedup_simhash_serve — the portable-family fingerprint replay
    * plus the banded cross join and Hamming verify. (lazy: referenced
    * from `all` above, which initializes first.) */
  private lazy val SimhashIncrementalSql = """
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        th AS (
          SELECT doc_id AS id,
                 list_transform(ws, t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
          FROM w),
        sim AS (
          SELECT id,
                 CAST(list_sum(list_transform(range(0, 60), p ->
                   CASE WHEN 2 * len(list_filter(hs, h -> ((h >> p) & 1) = 1)) > len(hs)
                        THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT) AS simhash
          FROM th),
        banded AS (
          SELECT id, simhash, b, (simhash >> CAST(b*16 AS INTEGER)) & 65535 AS chunk
          FROM sim, unnest(range(0, 4)) t(b)),
        cand AS (
          SELECT DISTINCT x.id AS new_id, y.id AS base_id,
                 x.simhash AS sim_n, y.simhash AS sim_b
          FROM banded x JOIN banded y ON x.b = y.b AND x.chunk = y.chunk
          WHERE x.id % 2 = 1 AND y.id % 2 = 0)
        SELECT new_id, base_id, CAST(bit_count(xor(sim_n, sim_b)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sim_n, sim_b)) <= 14"""

  /** Shared verbatim by dedup_winnow_incremental and
    * dedup_winnow_serve — the portable rolling-hash fingerprint
    * replay, base-side df-cap, and shared-fingerprint count. */
  private lazy val WinnowIncrementalSql = """
        WITH g AS (
          SELECT doc_id,
                 CASE WHEN length(text) = 0 THEN CAST([] AS BIGINT[])
                 ELSE list_transform(
                   range(1, greatest(length(text) - least(8, length(text)) + 1, 1) + 1),
                   i -> list_reduce(
                          list_transform(range(i, i + least(8, length(text))),
                            j -> CAST(ascii(substr(text, CAST(j AS INTEGER), 1)) AS BIGINT)),
                          (acc, x) -> (acc * 257 + x) % 2147483647))
                 END AS hs
          FROM documents),
        s AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(hs) - least(16, len(hs)) + 1, 1) + 1),
                   j -> list_min(hs[CAST(j AS INTEGER):CAST(j + least(16, len(hs)) - 1 AS INTEGER)])))) AS fp
          FROM g WHERE len(hs) > 0),
        bs AS (SELECT doc_id, fp FROM s WHERE doc_id % 2 = 0),
        keep AS (SELECT fp FROM bs GROUP BY fp HAVING COUNT(*) <= 100),
        fb AS (SELECT bs.doc_id, bs.fp FROM bs JOIN keep USING (fp)),
        fa AS (SELECT doc_id, fp FROM s WHERE doc_id % 2 = 1)
        SELECT a.doc_id AS new_id, b.doc_id AS base_id, COUNT(*) AS n_shared
        FROM fa a JOIN fb b ON a.fp = b.fp
        GROUP BY 1, 2 HAVING COUNT(*) >= 2"""

  /** Shared verbatim by dedup_incremental and dedup_minhash_serve —
    * the portable-family replay of both sides' signatures plus the
    * two-sided capped band join. (lazy: referenced from `all` above,
    * which initializes first.) */
  private lazy val DedupIncrementalSql = """
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
          FROM w),
        hp AS (
          SELECT id,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647) AS h1,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % 2147483647) AS h2
          FROM sh WHERE len(shs) > 0),
        sig AS (
          SELECT id, list_transform(range(0, 16),
                   j -> list_min(list_transform(range(1, len(h1) + 1),
                          x -> (h1[x] + j * h2[x]) % 2147483647))) AS sig
          FROM hp),
        banded AS (
          SELECT id, b,
                 md5(array_to_string(sig[b*2+1 : b*2+2], ',') || ',' || b) AS band_hash
          FROM sig, unnest(range(0, 8)) t(b)),
        bn AS (SELECT * FROM banded WHERE id % 5 = 4),
        bb AS (SELECT * FROM banded WHERE id % 5 != 4),
        bszn AS (SELECT b, band_hash, COUNT(*) AS m FROM bn GROUP BY 1, 2),
        bszb AS (SELECT b, band_hash, COUNT(*) AS m FROM bb GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT x.id AS new_id, y.id AS base_id
          FROM bn x
          JOIN bb y ON x.b = y.b AND x.band_hash = y.band_hash
          JOIN bszn zn ON zn.b = x.b AND zn.band_hash = x.band_hash AND zn.m <= 200
          JOIN bszb zb ON zb.b = x.b AND zb.band_hash = x.band_hash AND zb.m <= 200),
        scored AS (
          SELECT c.new_id, c.base_id,
                 CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 AS est_jaccard
          FROM cand c
          JOIN sig sa ON sa.id = c.new_id
          JOIN sig sb ON sb.id = c.base_id)
        SELECT new_id, base_id, est_jaccard FROM scored WHERE est_jaccard >= 0.125"""

  /** Oracle of dedup_minhash_append: [[DedupIncrementalSql]]'s replay
    * minus the two bucket-cap joins — the append query builds and
    * serves UNCAPPED (a capped layout is rebuild-only), so the oracle
    * must not cap either. Deliberately knows nothing about the
    * save/append split: one replay over all of history IS the law
    * being pinned. */
  private lazy val DedupAppendSql = """
        WITH w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        sh AS (
          SELECT doc_id AS id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shs
          FROM w),
        hp AS (
          SELECT id,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % 2147483647) AS h1,
                 list_transform(shs, s -> CAST('0x' || substr(md5(s), 16, 15) AS BIGINT) % 2147483647) AS h2
          FROM sh WHERE len(shs) > 0),
        sig AS (
          SELECT id, list_transform(range(0, 16),
                   j -> list_min(list_transform(range(1, len(h1) + 1),
                          x -> (h1[x] + j * h2[x]) % 2147483647))) AS sig
          FROM hp),
        banded AS (
          SELECT id, b,
                 md5(array_to_string(sig[b*2+1 : b*2+2], ',') || ',' || b) AS band_hash
          FROM sig, unnest(range(0, 8)) t(b)),
        bn AS (SELECT * FROM banded WHERE id % 5 = 4),
        bb AS (SELECT * FROM banded WHERE id % 5 != 4),
        cand AS (
          SELECT DISTINCT x.id AS new_id, y.id AS base_id
          FROM bn x
          JOIN bb y ON x.b = y.b AND x.band_hash = y.band_hash),
        scored AS (
          SELECT c.new_id, c.base_id,
                 CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16 AS est_jaccard
          FROM cand c
          JOIN sig sa ON sa.id = c.new_id
          JOIN sig sb ON sb.id = c.base_id)
        SELECT new_id, base_id, est_jaccard FROM scored WHERE est_jaccard >= 0.125"""
}
