package graft.queries

import graft.ext.{Bpe, Chunking, CorpusShuffle, Curation, Decontaminate, ExactDedup, MinHash, Mixing, Multimodal, KMeans, Packing, PassageDedup, Pii, QualityClassifier, Repetition, Retrieval, SemDedup, SimHash, Similarity, TextAnalysis => TA, TopTerms, Vocab}
import graft.util.Tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** North-star training-data-pipeline operators (BASELINE.json
  * `north_star`): deduplication, text analysis, multimodal plumbing,
  * similarity search — each designed shuffle-light for 100 TB and
  * oracle-checked on the `documents`/`embeddings` tables where
  * SQL-expressible.
  */
object ExtQueries {

  /** Exact dedup: hash-groupBy on the md5 fingerprint of normalized text,
    * min-id canonical. */
  private val x01 = Q("x01_dedup_exact",
    (s, d) => ExactDedup.dedup(documents(s, d), "doc_id", "text")
      .orderBy("canonical_id"),
    Some("""SELECT min(doc_id) AS canonical_id, CAST(count(*) AS BIGINT) AS dup_count, fp
            FROM (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                  FROM documents)
            GROUP BY fp ORDER BY canonical_id"""))

  /** Language-ID: per-language stopword hit ratios + non-ASCII charset
    * signal, argmax with alphabetical tie-break. */
  private val x02 = Q("x02_langid",
    (s, d) => {
      val t = col("text")
      val scores = TA.langScores(t)
      val scored = documents(s, d).select(
        col("doc_id") +: scores.map { case (l, c) => c.as(s"s_$l") }: _*)
      scored.withColumn("predicted",
          TA.argmaxLang(scores.map { case (l, _) => l -> col(s"s_$l") }))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS MATERIALIZED (SELECT doc_id, text,
                 regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
             sc AS MATERIALIZED (SELECT doc_id,
               ${langScoreSql("s_de", "'der','die','das','und','ist','nicht','mit','ein','zu','den'")},
               ${langScoreSql("s_en", "'the','a','of','and','to','in','is','it','for','on'")},
               ${langScoreSql("s_es", "'el','la','que','y','en','un','es','los','se','del'")},
               ${langScoreSql("s_fr", "'le','la','et','un','que','pour','dans','ce','une','sur'")},
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[\\x00-\\x7f]', '', 'g')) AS DOUBLE) / length(text)
               END AS s_zh
             FROM t)
             SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
               CASE WHEN s_de >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                    WHEN s_en >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    WHEN s_es >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_fr >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    ELSE 'zh' END AS predicted
             FROM sc ORDER BY doc_id"""))

  private def langScoreSql(alias: String, words: String): String =
    s"""CASE WHEN len(toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter(toks, x -> x IN ($words))) AS DOUBLE) / len(toks)
        END AS $alias"""

  /** Quality scoring: length/token/digit/stopword features combined into
    * a deterministic score. */
  private val x03 = Q("x03_quality_score",
    (s, d) => {
      val t = col("text")
      documents(s, d).select(col("doc_id"),
          length(t).cast("long").as("n_chars_calc"),
          size(TA.wsTokens(t)).cast("long").as("n_tokens"),
          TA.digitRatio(t).as("digit_ratio"),
          TA.stopwordRatio(t, TA.stopEn).as("stop_ratio"))
        .withColumn("avg_token_len",
          when(col("n_tokens") === 0, 0.0)
            .otherwise((col("n_chars_calc") - col("n_tokens") + 1).cast("double") / col("n_tokens")))
        .withColumn("score",
          lit(0.4) * col("stop_ratio")
            + lit(0.3) * (least(col("avg_token_len"), lit(10.0)) / 10.0)
            + lit(0.3) * (lit(1.0) - col("digit_ratio")))
        .orderBy("doc_id")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_chars_calc,
              CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio,
              CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                          x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                        / len(regexp_extract_all(lower(text), '[a-z]+')) END AS stop_ratio
            FROM documents),
            g AS MATERIALIZED (SELECT *, CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE CAST(n_chars_calc - n_tokens + 1 AS DOUBLE) / n_tokens END AS avg_token_len
            FROM f)
            SELECT doc_id, n_chars_calc, n_tokens, digit_ratio, stop_ratio, avg_token_len,
                   0.4 * stop_ratio + 0.3 * (least(avg_token_len, 10.0) / 10.0)
                     + 0.3 * (1.0 - digit_ratio) AS score
            FROM g ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + BPE-ish regex pre-tokens. */
  private val x04 = Q("x04_token_stats",
    (s, d) => documents(s, d).select(col("doc_id"),
        size(TA.wsTokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(TA.bpeIshTokens(col("text"))).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_calc
            FROM documents ORDER BY doc_id"""))

  /** Document fingerprinting: md5 + 64-bit (sha256 prefix) content
    * fingerprints of normalized text. */
  private val x05 = Q("x05_fingerprint",
    (s, d) => documents(s, d).select(col("doc_id"),
        TA.fingerprintMd5(col("text")).as("fp_md5"),
        TA.fingerprint64(col("text")).as("fp64"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
                   substr(sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp64
            FROM documents ORDER BY doc_id"""))

  /** Multimodal metadata: opaque binary payload column + deterministic
    * metadata extraction (the decode itself is a stub — see
    * [[graft.ext.Multimodal]]). */
  private val x06 = Q("x06_multimodal_meta",
    (s, d) => Multimodal.metaColumns(
        documents(s, d).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS sha256,
                   CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
                   CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
                   CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS n_frames
            FROM documents ORDER BY doc_id"""))

  /** Similarity search, exact baseline: brute-force cosine top-5 for a
    * small query set (vec_id < 8) against the corpus. Broadcast
    * nested-loop of the tiny query side; sims bit-identical to DuckDB
    * (sequential double folds of exact float products — see
    * [[graft.ext.Similarity]]). */
  private val x07 = Q("x07_knn_exact",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 8),
                 s AS MATERIALIZED (SELECT qid, vec_id AS nid,
                         list_sum(list_transform(list_zip(qe, embedding),
                           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                         / (sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
                       FROM embeddings, q WHERE vec_id <> qid),
                 r AS MATERIALIZED (SELECT qid, nid, sim,
                         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn FROM s)
            SELECT qid AS query_id, CAST(rn AS INT) AS rank, nid AS neighbor_id, sim
            FROM r WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Near-dup dedup: MinHash (16 perms over word-3-gram shingles) + LSH
    * banding (4 bands × 4 rows); candidate pairs from the band equi-join
    * with estimated Jaccard ≥ 0.5. All integer arithmetic shared with
    * DuckDB — see [[graft.ext.MinHash]]. */
  private val x08 = Q("x08_neardup_minhash",
    (s, d) => MinHash.nearDupPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM bands a JOIN bands b
                             ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b,
                   CAST(len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) AS DOUBLE)/16 AS est_jaccard
            FROM pairs JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
            WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8
            ORDER BY doc_a, doc_b"""))

  /** Similarity search, scale path: random-hyperplane LSH buckets
    * (4 bands × 4 bits) + exact re-rank of bucket-mates — a hash-join
    * plan with no cartesian product (see [[graft.ext.Similarity.lshTopK]]). */
  private val x09 = Q("x09_knn_lsh",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nBands = 4, bandBits = 4, dim = 64)
        .orderBy("query_id", "rank")
    },
    Some("""WITH sig AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), p -> CASE WHEN
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(p*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1))) >= 0
                     THEN 1 ELSE 0 END) AS sg
                 FROM embeddings),
                 bands AS MATERIALIZED (SELECT vec_id, b,
                             sg[4*b+1]*8 + sg[4*b+2]*4 + sg[4*b+3]*2 + sg[4*b+4] AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                          FROM bands q JOIN bands c ON q.b = c.b AND q.bk = c.bk
                          WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
                 scored AS MATERIALIZED (SELECT query_id, neighbor_id,
                     list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(ce.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
                   FROM cand JOIN embeddings qe ON qe.vec_id = query_id
                             JOIN embeddings ce ON ce.vec_id = neighbor_id),
                 r AS MATERIALIZED (SELECT query_id, neighbor_id, sim,
                         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
                       FROM scored)
            SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
            FROM r WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** SimHash near-dup: 60-bit majority-vote fingerprint over shingle
    * hashes, 4×15-bit bands (exhaustive for Hamming ≤ 3), pairs with
    * Hamming distance ≤ 3 — see [[graft.ext.SimHash]]. */
  private val x10 = Q("x10_neardup_simhash",
    (s, d) => SimHash.nearDupPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, maxHamming = 3)
      .orderBy("doc_a", "doc_b"),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT)) AS hh
                        FROM sh),
                 fp AS MATERIALIZED (SELECT doc_id, list_sum(list_transform(range(0,60), j ->
                          CASE WHEN list_sum(list_transform(hh, h ->
                                 CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
                               THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS f
                        FROM hs WHERE len(hh) > 0),
                 bands AS MATERIALIZED (SELECT doc_id, b, (f >> (15*b)) & 32767 AS bk
                           FROM fp, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM bands a JOIN bands b
                             ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, CAST(bit_count(xor(fa.f, fb.f)) AS INT) AS hamming
            FROM pairs JOIN fp fa ON fa.doc_id = doc_a JOIN fp fb ON fb.doc_id = doc_b
            WHERE bit_count(xor(fa.f, fb.f)) <= 3 ORDER BY doc_a, doc_b"""))

  /** n-gram Jaccard near-dup, find-then-confirm: MinHash-band candidates
    * confirmed with the EXACT distinct-shingle-set Jaccard ≥ 0.8. */
  private val x11 = Q("x11_neardup_ngram_jaccard",
    (s, d) => MinHash.exactJaccardPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.8)
      .orderBy("doc_a", "doc_b"),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hsraw AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                             CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT)) AS hraw
                           FROM sh),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(hraw, h -> h % 1000000007) AS hh FROM hsraw),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM bands a JOIN bands b
                             ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 hset AS MATERIALIZED (SELECT doc_id, list_distinct(hraw) AS hs FROM hsraw WHERE len(hraw) > 0)
            SELECT doc_a, doc_b,
                   CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.hs, b.hs))) AS jaccard
            FROM pairs JOIN hset a ON a.doc_id = doc_a JOIN hset b ON b.doc_id = doc_b
            WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.8
            ORDER BY doc_a, doc_b"""))

  /** Embedding-cosine near-dup over the whole corpus: LSH-band candidate
    * pairs + exact cosine ≥ 0.4 (the testdata plants no high-cosine
    * pairs; 0.4 exercises the operator against real bucket-mates). */
  private val x12 = Q("x12_neardup_embedding",
    (s, d) => Similarity.nearDupPairs(embeddings(s, d), "vec_id", "embedding",
        minCosine = 0.4, nBands = 4, bandBits = 4, dim = 64)
      .orderBy("vec_a", "vec_b"),
    Some("""WITH sig AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), p -> CASE WHEN
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(p*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1))) >= 0
                     THEN 1 ELSE 0 END) AS sg
                 FROM embeddings),
                 bands AS MATERIALIZED (SELECT vec_id, b,
                             sg[4*b+1]*8 + sg[4*b+2]*4 + sg[4*b+3]*2 + sg[4*b+4] AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                           FROM bands a JOIN bands b
                             ON a.b = b.b AND a.bk = b.bk AND a.vec_id < b.vec_id),
                 scored AS MATERIALIZED (SELECT vec_a, vec_b,
                     list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
                   FROM pairs JOIN embeddings ea ON ea.vec_id = vec_a
                              JOIN embeddings eb ON eb.vec_id = vec_b)
            SELECT vec_a, vec_b, cos FROM scored
            WHERE cos >= 0.4 ORDER BY vec_a, vec_b"""))

  /** Similarity search, IVF scale path: LCG coarse centroids, corpus
    * assigned to nearest cell, queries probe their 4 best of 16 cells,
    * exact cosine re-rank — see [[graft.ext.Similarity.ivfTopK]]. */
  private val x13 = Q("x13_knn_ivf",
    (s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4, dim = 64)
        .orderBy("query_id", "rank")
    },
    Some("""WITH sc AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), kk ->
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1)))
                     / sqrt(list_sum(list_transform(range(0,64), j ->
                         (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0 * 2 - 1)
                         * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                            / 2147483648.0 * 2 - 1))))) AS scores
                 FROM embeddings),
                 assigned AS MATERIALIZED (SELECT vec_id, embedding,
                                CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS centroid
                              FROM sc),
                 probes AS MATERIALIZED (SELECT query_id, qe, centroid FROM (
                     SELECT vec_id AS query_id, embedding AS qe, CAST(j AS INT) AS centroid,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY scores[j+1] DESC, j) AS pr
                     FROM sc, (SELECT unnest(range(0,16)) AS j)
                     WHERE vec_id < 8)
                   WHERE pr <= 4),
                 scored AS MATERIALIZED (SELECT DISTINCT query_id, a.vec_id AS neighbor_id,
                     list_sum(list_transform(list_zip(p.qe, a.embedding),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
                   FROM probes p JOIN assigned a
                     ON a.centroid = p.centroid AND a.vec_id <> p.query_id),
                 r AS MATERIALIZED (SELECT query_id, neighbor_id, sim,
                         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
                       FROM scored)
            SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
            FROM r WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Multimodal → ANN bridge (the claim at
    * [[graft.ext.Multimodal.extractFeatures]]): opaque payloads →
    * per-partition feature extraction (`mapPartitions`, codec instantiated
    * once per partition) → LSH-bucketed similarity search over the
    * extracted embeddings. The stub codec's embedding is double-precision
    * md5-seeded LCG arithmetic (see [[graft.ext.Multimodal.FakeCodec]]),
    * so the WHOLE bridge — including the imperative mapPartitions decode
    * path — is reproduced by the oracle bit-for-bit; the `emb` CTE below
    * is the SQL twin of `FakeCodec.features`, and the LSH stages mirror
    * x09's proven text. */
  private val x14 = Q("x14_multimodal_ann",
    (s, d) => {
      val docs = documents(s, d).withColumn("payload", col("text").cast("binary"))
      val emb = Multimodal.extractFeatures(s, docs, "doc_id", "payload", dim = 16)
      Similarity.lshTopK(emb, emb.filter(col("doc_id") < 8),
          "doc_id", "embedding", k = 5, nBands = 4, bandBits = 4, dim = 16)
        .orderBy("query_id", "rank")
    },
    Some("""WITH raw AS MATERIALIZED (SELECT doc_id,
                   list_transform(range(0,16), j ->
                     CAST((1103515245*((CAST(CAST('0x'||substr(md5(text),1,15) AS UBIGINT) AS BIGINT)
                                        % 2147483648) + j) + 12345) % 2147483648 AS DOUBLE)
                     / 2147483648.0 * 2 - 1) AS v
                 FROM documents),
                 emb AS MATERIALIZED (SELECT doc_id,
                           CASE WHEN n = 0 THEN v
                                ELSE list_transform(v, x -> x / n) END AS e
                         FROM (SELECT doc_id, v,
                                 sqrt(list_sum(list_transform(v, y -> y*y))) AS n
                               FROM raw)),
                 sig AS MATERIALIZED (SELECT doc_id, e,
                   list_transform(range(0,16), p -> CASE WHEN
                     list_sum(list_transform(list_zip(e, range(0,16)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(p*16 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1))) >= 0
                     THEN 1 ELSE 0 END) AS sg
                 FROM emb),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             sg[4*b+1]*8 + sg[4*b+2]*4 + sg[4*b+3]*2 + sg[4*b+4] AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT q.doc_id AS query_id, c.doc_id AS neighbor_id
                          FROM bands q JOIN bands c ON q.b = c.b AND q.bk = c.bk
                          WHERE q.doc_id < 8 AND c.doc_id <> q.doc_id),
                 scored AS MATERIALIZED (SELECT query_id, neighbor_id,
                     list_sum(list_transform(list_zip(qe.e, ce.e),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(qe.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(ce.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
                   FROM cand JOIN emb qe ON qe.doc_id = query_id
                             JOIN emb ce ON ce.doc_id = neighbor_id),
                 r AS MATERIALIZED (SELECT query_id, neighbor_id, sim,
                         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
                       FROM scored)
            SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
            FROM r WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** Duplicate-cluster resolution: the near-dup PAIRS (x08's MinHash/LSH
    * output) resolved into connected components with a min-id canonical
    * per cluster — see [[graft.ext.DupClusters]]. The oracle reproduces
    * the pair pipeline and closes it transitively with a recursive CTE. */
  private val x16 = Q("x16_neardup_clusters",
    (s, d) => {
      val pairs = MinHash.nearDupPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5)
      graft.ext.DupClusters.connectedComponents(pairs).orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
                           JOIN sig sa ON sa.doc_id = doc_a
                           JOIN sig sb ON sb.doc_id = doc_b
                           WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 e(u, v) AS (SELECT doc_a, doc_b FROM pairs
                             UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (SELECT u, v FROM e
                                 UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
            SELECT u AS doc_id, least(u, min(v)) AS canonical_id
            FROM reach GROUP BY u ORDER BY doc_id"""))

  /** Deterministic stratified sampling (the data-mixing recipe step):
    * per-language rates, keep/drop decided by a stable md5-bucket of the
    * doc id — reproducible across engines/partitionings/retries (no
    * rand()). See [[graft.ext.Sampling]]. */
  private val x15 = Q("x15_stratified_sample",
    (s, d) => graft.ext.Sampling.stratified(documents(s, d), "lang", "doc_id",
        Map("en" -> 0.8, "zh" -> 0.3), defaultRate = 0.5)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source FROM documents
            WHERE CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                  < (CASE WHEN lang = 'en' THEN 8000 WHEN lang = 'zh' THEN 3000 ELSE 5000 END)
            ORDER BY doc_id"""))

  /** Streaming exact dedup under the oracle (SURVEY.md §2.9 × x01): the
    * documents table is staged as a file-source arrival directory, run
    * through the REAL watermarked streaming dedup
    * ([[graft.streaming.StreamDedup.exactDedupStreamWatermarked]] —
    * `dropDuplicatesWithinWatermark` state, the bounded-state 100 TB
    * continuous-ingest path) with `Trigger.AvailableNow`, and the sink
    * is compared against the batch first-wins oracle. This is the
    * reference's operational core — "as files land, upsert exactly once
    * per key" (`dags/get_securities_data.py:40-42`) — executed by a real
    * streaming query, not a unit test.
    *
    * Determinism: WHICH duplicate row survives depends on arrival order,
    * so the checked output is the surviving KEY SET (one `fp` per
    * distinct fingerprint — arrival-order-free), ordered. The derived
    * event time (epoch + doc_id seconds) spans < 1 hour per 3.6k docs;
    * the 365-day watermark delay keeps every fingerprint's state live
    * across micro-batches, so dedup is exact over the whole run. */
  private val x17 = Q("x17_stream_dedup",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x17-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val staged = documents(s, d).withColumn("event_ts",
        timestamp_seconds(lit(1704067200L) + col("doc_id")))
      staged.write.mode("overwrite").parquet(in)
      val stream = s.readStream.schema(staged.schema).parquet(in)
      val job = graft.streaming.StreamDedup
        .exactDedupStreamWatermarked(stream, "text", "event_ts", "365 days")
        .select("fp")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out).select("fp").orderBy("fp")
    },
    Some("""SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents ORDER BY fp"""))

  /** Watermarked event-time windowed aggregation under the oracle
    * (SURVEY.md §2.9, the windowed-agg leg): the events table streams
    * through [[graft.streaming.StreamAnalytics.windowedTradedValue]] —
    * tumbling 1-day windows, APPEND output mode, so a window only emits
    * once the watermark passes its end (the bounded-state exactly-once
    * shape) — and the parquet sink is compared against the batch
    * GROUP BY day oracle.
    *
    * Determinism: the staged input is ONE file (single micro-batch, so
    * the watermark cannot drop a late row mid-run), values are
    * pre-quantized to exact integer cents (decimal sums are
    * order-independent; a raw double sum would be arrival-order bits),
    * and a far-future SENTINEL row (user_id −1, excluded from output)
    * pushes the final watermark past every real window's end so append
    * mode flushes them all before `AvailableNow` terminates. */
  private val x18 = Q("x18_stream_windowed_agg",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x18-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val ev = events(s, d).select(col("user_id"), col("ts"),
        graft.sa.Analytics.cents2(col("value")).as("value_c"))
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        to_timestamp(lit("2024-12-31 00:00:00")).as("ts"),
        graft.sa.Analytics.cents2(lit(0.0)).as("value_c"))
      ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(in)
      val stream = s.readStream.schema(ev.schema).parquet(in)
      val job = graft.streaming.StreamAnalytics
        .windowedTradedValue(stream, "user_id", "ts", "value_c", "1 day", "1 minute")
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out)
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          col("window_start").cast("date").as("window_day"),
          (col("total_value").cast(DecimalType(38, 0)).cast("double") / lit(100.0))
            .as("total_value"),
          col("n_events"))
        .orderBy("user_id", "window_day")
    },
    Some(s"""SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS window_day,
                   (${Sql.dbl(s"SUM(${Sql.cents2("value")})")} / 100.0) AS total_value,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2 ORDER BY user_id, window_day"""))

  /** Shared oracle prelude: normalized whitespace tokens per doc (the
    * SQL twin of [[graft.ext.Ngrams.normTokens]] — lowering first makes
    * collapse-then-split and split-directly identical token lists). */
  private val tokSql =
    """toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w
               FROM documents)"""

  /** Stream-static enrichment join under the oracle (SURVEY.md §2.9,
    * the dimension-enrichment leg): the events table streams through a
    * file source and each micro-batch broadcast-joins a STATIC
    * dimension (event_type → derived category), via
    * [[graft.streaming.StreamAnalytics.enrich]] — the stream never
    * shuffles for the join. Checked against the identical batch join.
    * Determinism: a per-row projection + inner join on a total key set
    * (every event_id survives), value pre-quantized to cents, ordered
    * output — arrival order cannot influence any cell. */
  private val x24 = Q("x24_stream_enrich",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x24-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val ev = events(s, d).select(col("event_id"), col("event_type"),
        graft.sa.Analytics.cents2(col("value")).as("value_c"))
      ev.coalesce(1).write.mode("overwrite").parquet(in)
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("category",
          concat(upper(col("event_type")), lit("-"),
            length(col("event_type")).cast("string")))
      val stream = s.readStream.schema(ev.schema).parquet(in)
      val job = graft.streaming.StreamAnalytics.enrich(stream, dim, "event_type")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out)
        .select(col("event_id"), col("event_type"), col("category"),
          (col("value_c").cast(DecimalType(38, 0)).cast("double") / lit(100.0))
            .as("value_q"))
        .orderBy("event_id")
    },
    Some(s"""WITH dim AS MATERIALIZED (SELECT DISTINCT event_type,
                    upper(event_type) || '-' || CAST(length(event_type) AS VARCHAR) AS category
                  FROM events)
             SELECT event_id, event_type, category,
                    (${Sql.dbl(Sql.cents2("value"))} / 100.0) AS value_q
             FROM events JOIN dim USING (event_type)
             ORDER BY event_id"""))

  /** Train/eval decontamination (the GPT-3/Pile/FineWeb n-gram-overlap
    * hygiene sweep): eval split = doc_id % 10 = 0, word 8-grams, train
    * docs sharing any gram with the eval set — see
    * [[graft.ext.Decontaminate]] for the 100 TB join shape (distinct
    * gram-md5 equi-join, no cartesian, no text on the wire). */
  private val x19 = Q("x19_decontaminate",
    (s, d) => Decontaminate.contaminated(documents(s, d), "doc_id", "text",
        col("doc_id") % 10 === 0, n = 8)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             g AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
                      i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                   FROM toks WHERE len(w) >= 8),
             dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM g),
             ev AS MATERIALIZED (SELECT DISTINCT gram_fp FROM g WHERE doc_id % 10 = 0),
             tr AS MATERIALIZED (SELECT * FROM dg WHERE doc_id % 10 <> 0),
             tot AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
             sh AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
                    FROM tr JOIN ev USING (gram_fp) GROUP BY 1)
             SELECT s.doc_id, t.n_grams, s.n_shared,
                    CAST(s.n_shared AS DOUBLE) / t.n_grams AS contamination
             FROM sh s JOIN tot t USING (doc_id) ORDER BY doc_id"""))

  /** Gopher-style repetition quality signals (duplicate / top n-gram
    * occurrence fractions for n=2,3) — see [[graft.ext.Repetition]].
    * Integer counts end to end; the fractions are single-division
    * doubles, so the oracle compare is exact. */
  private val x20 = Q("x20_repetition_quality",
    (s, d) => Repetition.signals(documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             ${Seq(2, 3).map(repetitionCteSql).mkString(",\n             ")}
             SELECT doc_id, n_grams_2, dup_frac_2, top_frac_2,
                    n_grams_3, dup_frac_3, top_frac_3
             FROM s_2 JOIN s_3 USING (doc_id) ORDER BY doc_id"""))

  private def repetitionCteSql(n: Int): String =
    s"""g_$n AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-${n - 1}),
                    i -> array_to_string(w[i:i+${n - 1}], ' '))) AS gram
                 FROM toks WHERE len(w) >= $n),
             c_$n AS MATERIALIZED (SELECT doc_id, gram, count(*) AS cnt FROM g_$n GROUP BY 1, 2),
             a_$n AS MATERIALIZED (SELECT doc_id, sum(cnt) AS total,
                        sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup,
                        max(cnt) AS top
                      FROM c_$n GROUP BY 1),
             s_$n AS MATERIALIZED (SELECT t.doc_id,
                        CAST(coalesce(a.total, 0) AS BIGINT) AS n_grams_$n,
                        CASE WHEN coalesce(a.total, 0) = 0 THEN 0.0
                             ELSE CAST(a.dup AS DOUBLE) / CAST(a.total AS DOUBLE) END AS dup_frac_$n,
                        CASE WHEN coalesce(a.total, 0) = 0 THEN 0.0
                             ELSE CAST(a.top AS DOUBLE) / CAST(a.total AS DOUBLE) END AS top_frac_$n
                      FROM (SELECT DISTINCT doc_id FROM toks) t
                      LEFT JOIN a_$n a USING (doc_id))"""

  /** Corpus-level passage dedup (the no-newline analogue of web-crawl
    * line/paragraph dedup): 10-token chunks, keep the globally first
    * occurrence of each distinct passage, reassemble surviving text —
    * see [[graft.ext.PassageDedup]] for the fingerprint-shuffle shape. */
  private val x21 = Q("x21_passage_dedup",
    (s, d) => PassageDedup.dedup(documents(s, d), "doc_id", "text",
        chunkTokens = 10)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             p AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) = 0 THEN ['']
                     ELSE list_transform(generate_series(0, CAST((len(w)-1)//10 AS INT)),
                            c -> array_to_string(w[c*10+1:c*10+10], ' ')) END AS ps
                   FROM toks),
             e AS MATERIALIZED (SELECT doc_id, u.e.i AS idx, u.e.p AS passage
                   FROM p, unnest(list_transform(generate_series(1, len(ps)),
                          i -> {'i': i-1, 'p': ps[i]})) AS u(e)),
             r AS MATERIALIZED (SELECT doc_id, idx, passage,
                     row_number() OVER (PARTITION BY md5(passage) ORDER BY doc_id, idx) AS rn
                   FROM e)
             SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
                    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                    coalesce(string_agg(CASE WHEN rn = 1 THEN passage END, ' ' ORDER BY idx), '') AS text_kept
             FROM r GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-doc salient terms by integer-exact TF/DF rank (the portable
    * core of TF-IDF keyword extraction — no transcendental in the
    * checked result; see [[graft.ext.TopTerms]]). */
  private val x22 = Q("x22_top_terms",
    (s, d) => TopTerms.topTerms(documents(s, d), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank"),
    Some("""WITH t AS MATERIALIZED (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                   FROM documents),
             tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
             df AS MATERIALIZED (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             r AS MATERIALIZED (SELECT doc_id, term, tf.tf, df.df,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY tf.tf DESC, df.df ASC, term ASC) AS rank
                   FROM tf JOIN df USING (term))
             SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df
             FROM r WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Distributed Lloyd's k-means (k=8, 2 assignment rounds) over the
    * embeddings table — integer-quantized so every distance, sum, and
    * centroid update is exact int64 arithmetic and the DuckDB replay
    * lands on identical clusters; see [[graft.ext.KMeans]] for the
    * broadcast-assign / (cluster,pos)-sum shapes. */
  private val x23 = Q("x23_kmeans",
    (s, d) => KMeans.lloyd(embeddings(s, d), "vec_id", "embedding",
        k = 8, rounds = 2)
      .orderBy("vec_id"),
    Some("""WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE)*1048576 + 0.5) AS BIGINT) + 2097152) AS u
                    FROM embeddings),
             ql AS MATERIALIZED (SELECT vec_id, e.e.i AS pos, e.e.x AS x
                    FROM q, unnest(list_transform(generate_series(1, len(u)),
                           i -> {'i': i-1, 'x': u[i]})) AS e(e)),
             c0 AS MATERIALIZED (SELECT vec_id AS cid, pos, x AS c FROM ql WHERE vec_id < 8),
             d1 AS MATERIALIZED (SELECT ql.vec_id, c0.cid, sum((ql.x - c0.c)*(ql.x - c0.c)) AS dist
                    FROM ql JOIN c0 USING (pos) GROUP BY 1, 2),
             a1 AS MATERIALIZED (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM d1),
             m1 AS MATERIALIZED (SELECT vec_id, cid FROM a1 WHERE rn = 1),
             c1 AS MATERIALIZED (SELECT m1.cid, ql.pos,
                      CAST((2*sum(ql.x) + count(*)) // (2*count(*)) AS BIGINT) AS c
                    FROM ql JOIN m1 USING (vec_id) GROUP BY 1, 2),
             d2 AS MATERIALIZED (SELECT ql.vec_id, c1.cid, sum((ql.x - c1.c)*(ql.x - c1.c)) AS dist
                    FROM ql JOIN c1 USING (pos) GROUP BY 1, 2),
             a2 AS MATERIALIZED (SELECT vec_id, cid, dist,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM d2)
             SELECT vec_id, CAST(cid AS INT) AS cluster, CAST(dist AS BIGINT) AS dist
             FROM a2 WHERE rn = 1 ORDER BY vec_id"""))

  /** The full curation funnel (raw → language → quality → exact dedup →
    * deterministic sample) as one checked query reporting per-stage
    * survivor counts — the composition the public pre-training recipes
    * (C4/Gopher/FineWeb) run; see [[graft.ext.Curation]]. The oracle
    * re-derives every stage from the same formulas the x02/x03/x01/x15
    * oracles already pin. */
  private val x25 = Q("x25_curation_funnel",
    (s, d) => Curation.funnel(documents(s, d), "doc_id", "text",
        qualityMin = 0.46, sampleRate = 0.8)
      .orderBy("stage_no"),
    Some(s"""WITH t0 AS MATERIALIZED (SELECT doc_id, text,
                    regexp_extract_all(lower(text), '[a-z]+') AS toks FROM documents),
             sc AS MATERIALIZED (SELECT doc_id, text,
               ${langScoreSql("s_de", "'der','die','das','und','ist','nicht','mit','ein','zu','den'")},
               ${langScoreSql("s_en", "'the','a','of','and','to','in','is','it','for','on'")},
               ${langScoreSql("s_es", "'el','la','que','y','en','un','es','los','se','del'")},
               ${langScoreSql("s_fr", "'le','la','et','un','que','pour','dans','ce','une','sur'")},
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[\\x00-\\x7f]', '', 'g')) AS DOUBLE) / length(text)
               END AS s_zh
             FROM t0),
             l AS MATERIALIZED (SELECT doc_id, text FROM
                     (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS g FROM sc)
                   WHERE NOT (s_de >= g) AND s_en >= g),
             qf AS MATERIALIZED (SELECT doc_id, text FROM
                     (SELECT doc_id, text,
                        CAST(length(text) AS BIGINT) AS n_chars_calc,
                        CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
                        CASE WHEN length(text) = 0 THEN 0.0
                             ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio,
                        CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                    x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                                  / len(regexp_extract_all(lower(text), '[a-z]+')) END AS stop_ratio
                      FROM l)
                   WHERE 0.4 * stop_ratio
                         + 0.3 * (least(CASE WHEN n_tokens = 0 THEN 0.0
                                  ELSE CAST(n_chars_calc - n_tokens + 1 AS DOUBLE) / n_tokens END, 10.0) / 10.0)
                         + 0.3 * (1.0 - digit_ratio) >= 0.46),
             d AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM qf
                   GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
             smp AS MATERIALIZED (SELECT doc_id FROM d
                     WHERE CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < 8000)
             SELECT * FROM (
               SELECT 1 AS stage_no, 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM documents
               UNION ALL SELECT 2, 'lang_en', CAST(count(*) AS BIGINT) FROM l
               UNION ALL SELECT 3, 'quality', CAST(count(*) AS BIGINT) FROM qf
               UNION ALL SELECT 4, 'dedup', CAST(count(*) AS BIGINT) FROM d
               UNION ALL SELECT 5, 'sample', CAST(count(*) AS BIGINT) FROM smp)
             ORDER BY stage_no"""))

  /** Sequence packing (concat-and-chunk batch layout): every document's
    * global token offset and the 512-token context windows it spans,
    * via the two-pass distributed prefix sum — see
    * [[graft.ext.Packing]]. The oracle's single-partition window is the
    * semantic spec; the engine computes the same numbers without one. */
  private val x26 = Q("x26_sequence_packing",
    (s, d) => Packing.packSequences(documents(s, d), "doc_id", "text",
        windowTokens = 512)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             c AS MATERIALIZED (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks),
             p AS MATERIALIZED (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
                   FROM c)
             SELECT doc_id, n_tokens, "offset",
                    "offset" // 512 AS bin_start,
                    CASE WHEN n_tokens = 0 THEN "offset" // 512
                         ELSE ("offset" + n_tokens - 1) // 512 END AS bin_end
             FROM p ORDER BY doc_id"""))

  /** Stream-stream interval join under the oracle (SURVEY.md §2.9, the
    * two-stream leg): clicks and purchases stream independently from
    * the staged events table and meet in
    * [[graft.streaming.StreamAnalytics.intervalJoin]] — watermarks on
    * both sides + the time-range condition bound the join state.
    * Checked against the identical batch interval join in DuckDB.
    * Determinism: an INNER join's match set is arrival-order-free once
    * both sides are fully processed (single staged file each; the
    * watermark only governs state cleanup), and every output cell is a
    * key or an integer µs difference. */
  private val x27 = Q("x27_stream_interval_join",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x27-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"))
      ev.coalesce(1).write.mode("overwrite").parquet(in)
      def stream = s.readStream.schema(ev.schema).parquet(in)
      val clicks = stream.filter(col("event_type") === "click")
      val purchases = stream.filter(col("event_type") === "purchase")
      val joined = graft.streaming.StreamAnalytics
        .intervalJoin(clicks, purchases, "user_id", "ts", "1 HOUR", "30 days")
        .select(col("l.event_id").as("click_id"),
          col("r.event_id").as("purchase_id"),
          col("l.user_id").as("user_id"),
          (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
      val job = joined.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out).orderBy("click_id", "purchase_id")
    },
    Some("""SELECT a.event_id AS click_id, b.event_id AS purchase_id,
                   a.user_id AS user_id,
                   CAST(epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_type = 'click' AND b.event_type = 'purchase'
             AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
             AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
            ORDER BY click_id, purchase_id"""))

  /** Vocabulary build + per-doc OOV rates (the relational core of
    * tokenizer training; see [[graft.ext.Vocab]] for the TakeOrdered +
    * broadcast-membership shape). K=20 over this corpus's 31 distinct
    * terms, so the rates are nontrivial. */
  private val x28 = Q("x28_vocab_oov",
    (s, d) => Vocab.oovRates(documents(s, d), "doc_id", "text", k = 20)
      .orderBy("doc_id"),
    Some("""WITH t AS MATERIALIZED (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                   FROM documents),
             c AS MATERIALIZED (SELECT doc_id, term, count(*) AS n FROM t GROUP BY 1, 2),
             v AS MATERIALIZED (SELECT term FROM (SELECT term, sum(n) AS cnt FROM c GROUP BY 1)
                   ORDER BY cnt DESC, term ASC LIMIT 20),
             p AS MATERIALIZED (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                     CAST(sum(CASE WHEN term NOT IN (SELECT term FROM v)
                                   THEN n ELSE 0 END) AS BIGINT) AS n_oov
                   FROM c GROUP BY 1)
             SELECT d.doc_id,
                    coalesce(n_tokens, 0) AS n_tokens,
                    coalesce(n_oov, 0) AS n_oov,
                    CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
                         ELSE CAST(n_oov AS DOUBLE) / n_tokens END AS oov_rate
             FROM (SELECT DISTINCT doc_id FROM documents) d
             LEFT JOIN p USING (doc_id) ORDER BY doc_id"""))

  /** Data-mixture balancing: per-language sampling rates flattening the
    * corpus to a uniform token mixture (`min_tokens / tokens_lang`,
    * exact int64 counts → one correctly-rounded division) — the step
    * between corpus stats and [[graft.ext.Sampling.stratified]]; see
    * [[graft.ext.Mixing]]. */
  private val x29 = Q("x29_mix_weights",
    (s, d) => Mixing.uniformRates(documents(s, d), "lang", "text")
      .orderBy("lang"),
    Some("""WITH s AS MATERIALIZED (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(len(regexp_extract_all(lower(trim(text)), '\S+'))) AS BIGINT) AS n_tokens
                  FROM documents GROUP BY 1)
             SELECT lang, n_docs, n_tokens,
                    CASE WHEN n_tokens = 0 THEN 1.0
                         ELSE CAST((SELECT min(n_tokens) FROM s WHERE n_tokens > 0) AS DOUBLE) / n_tokens
                    END AS mix_rate
             FROM s ORDER BY lang"""))

  /** Z-order layout check ([[graft.core.ZOrder]]): Morton-interleave
    * (user_id, value-cents mod 2¹⁶) over events, bucket by the key's
    * high bits, and report each bucket's row count and per-dimension
    * min/max envelope — the bounded rectangles that make z-ordered
    * files prunable on EITHER dimension. Pure integer bit arithmetic,
    * bit-identical in the oracle. */
  private val x30 = Q("x30_zorder_layout",
    (s, d) => {
      val x = col("user_id")
      val y = pmod(graft.sa.Analytics.cents2(col("value")).cast("long"), lit(65536L))
      events(s, d)
        .select(x.as("x"), y.as("y"),
          graft.core.ZOrder.zkey2(x, y, 16).as("zkey"))
        .groupBy(expr("zkey DIV 67108864").as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("bucket")
    },
    Some(s"""WITH e AS MATERIALIZED (SELECT user_id AS x,
                    ((${Sql.cents2("value")} % 65536) + 65536) % 65536 AS y
                  FROM events),
             z AS MATERIALIZED (SELECT x, y,
                     ${graft.core.ZOrder.zkey2Sql("x", "CAST(y AS BIGINT)", 16)} AS zkey
                   FROM e)
             SELECT zkey // 67108864 AS bucket, CAST(count(*) AS BIGINT) AS n,
                    CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
                    CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
             FROM z GROUP BY 1 ORDER BY bucket"""))

  /** Frame sampling under the oracle (the video-pipeline leg of
    * [[graft.ext.Multimodal]]): the imperative per-partition flatMap
    * path (1 payload row → ≤ maxFrames frame rows, codec instantiated
    * per partition) runs for real, and the checked columns — which
    * frames were sampled and each frame's byte size — are pure
    * arithmetic of the payload length, so DuckDB reproduces them
    * exactly. everyN=2, maxFrames=4 → indices {0,2,4,6} capped by the
    * decoded frame count. */
  private val x31 = Q("x31_frame_sample",
    (s, d) => Multimodal.sampleFrames(s,
        documents(s, d).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload", everyN = 2, maxFrames = 4)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"))
      .orderBy("doc_id", "frame_idx"),
    Some("""WITH m AS MATERIALIZED (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
             d AS MATERIALIZED (SELECT doc_id, n % 640 + 1 AS w, (n*7) % 480 + 1 AS h,
                     n % 16 + 1 AS f FROM m),
             fr AS MATERIALIZED (SELECT doc_id, unnest(range(0, least(f, 8), 2)) AS frame_idx, w, h
                    FROM d)
             SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
                    CAST(least(w, 16) * least(h, 16) * 3 AS BIGINT) AS frame_bytes
             FROM fr ORDER BY doc_id, frame_idx"""))

  /** `mapGroupsWithState` under the oracle (SURVEY.md §2.9, the
    * custom-state leg — the last streaming surface that was unit-only):
    * the events table streams as ticks through
    * [[graft.streaming.StreamAnalytics.runningOhlc]] (one state object
    * per key, update mode via foreachBatch), and the final per-key OHLC
    * is compared against the batch first/last/min/max oracle.
    *
    * Determinism: one staged file → one micro-batch → one output row
    * per key. Within a batch the fold sorts by (ms, price) but updates
    * open/close through full-precision event-time comparisons, so the
    * net semantics are exactly "open = price at (min ts, tie→min
    * price), close = price at (max ts, tie→max price)" — the oracle's
    * two row_number orders. Prices are pre-quantized doubles. */
  private val x32 = Q("x32_stream_ohlc",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x32-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val ev = events(s, d).select(
        col("user_id").cast("string").as("symbol"), col("ts"),
        graft.sa.Analytics.qdbl2(col("value")).as("price"))
      ev.coalesce(1).write.mode("overwrite").parquet(in)
      import s.implicits._
      val ticks = s.readStream.schema(ev.schema).parquet(in)
        .as[graft.streaming.StreamAnalytics.Tick]
      val job = graft.streaming.StreamAnalytics.runningOhlc(ticks)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamAnalytics.Ohlc],
                         _: Long) =>
          b.write.mode("overwrite").parquet(out): Unit
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out)
        .select(col("symbol"), col("open"), col("high"), col("low"),
          col("close"), col("n").as("n_events"))
        .orderBy("symbol")
    },
    Some(s"""WITH e AS MATERIALIZED (SELECT CAST(user_id AS VARCHAR) AS symbol,
                    CAST(ts AS TIMESTAMP) AS ts, ${Sql.qdbl2("value")} AS price
                  FROM events),
             r AS MATERIALIZED (SELECT symbol, price,
                     row_number() OVER (PARTITION BY symbol ORDER BY ts ASC, price ASC) AS ra,
                     row_number() OVER (PARTITION BY symbol ORDER BY ts DESC, price DESC) AS rd
                   FROM e)
             SELECT symbol, max(CASE WHEN ra = 1 THEN price END) AS "open",
                    max(price) AS high, min(price) AS low,
                    max(CASE WHEN rd = 1 THEN price END) AS "close",
                    CAST(count(*) AS BIGINT) AS n_events
             FROM r GROUP BY symbol ORDER BY symbol"""))

  /** Streaming sessionization under the oracle (SURVEY.md §2.9 —
    * `session_window`, the dynamic-gap windowed aggregation): events
    * stream through a 30-minute-gap session window in APPEND mode and
    * the sink is compared against the batch gaps-and-islands oracle
    * (q37's formulation). Spark's session end is `last_ts + gap`, so
    * the checked `session_end` subtracts the gap back; unlike q37's
    * batch rule (`ts > pts + gap` continues a session), this oracle
    * breaks at `ts >= pts + gap`, matching `session_window`'s half-open
    * [start, last+gap) merge semantics exactly — so the check holds on
    * ANY data, including exact-gap event pairs (none exist at
    * sf0.01/sf0.1, which is why both formulations agreed through
    * round 6; the semantic twin removes that data dependence). x18's
    * staging rules apply: one file, pre-quantized cents, sentinel row
    * pushes the watermark past every real session. */
  private val x33 = Q("x33_stream_sessionize",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x33-")
      val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
      val ev = events(s, d).select(col("user_id"), col("ts"),
        graft.sa.Analytics.cents2(col("value")).as("value_c"))
      val sentinel = s.range(1).select(lit(-1L).as("user_id"),
        to_timestamp(lit("2024-12-31 00:00:00")).as("ts"),
        graft.sa.Analytics.cents2(lit(0.0)).as("value_c"))
      ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(in)
      val stream = s.readStream.schema(ev.schema).parquet(in)
      val job = stream
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(sum(col("value_c")).as("total_c"), count(lit(1)).as("n_events"))
        .writeStream.format("parquet").outputMode("append")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      job.awaitTermination()
      s.read.parquet(out)
        .filter(col("user_id") >= 0)
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          (col("session_window.end") - expr("INTERVAL 30 MINUTE")).as("session_end"),
          col("n_events"),
          (col("total_c").cast(DecimalType(38, 0)).cast("double") / lit(100.0))
            .as("total_value"))
        .orderBy("user_id", "session_start")
    },
    Some(s"""WITH e AS MATERIALIZED (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                    ${Sql.cents2("value")} AS vc FROM events),
             l AS MATERIALIZED (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                   FROM e),
             m AS MATERIALIZED (SELECT *, CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE
                                  THEN 1 ELSE 0 END AS brk FROM l),
             s AS MATERIALIZED (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                   FROM m)
             SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                    CAST(count(*) AS BIGINT) AS n_events,
                    (${Sql.dbl("sum(vc)")} / 100.0) AS total_value
             FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  /** Incremental dedup against a persisted bucketed signature store
    * ([[graft.ext.IncrementalDedup]]): the corpus is split
    * deterministically into an already-ingested store shard
    * (doc_id % 5 ≠ 4) and a new shard (doc_id % 5 = 4); the store's
    * banded MinHash signatures (x08's parameters) are WRITTEN as a
    * catalog table bucketed by (band, band_key), and the new shard is
    * deduplicated against that table — first-wins over the union, the
    * store side read shuffle-free and never recomputed (PlanSpec pins
    * the store subtree Exchange-free). The oracle replays the same
    * integer MinHash pipeline over the union and keeps exactly the
    * cross-shard matches. */
  private val x34 = Q("x34_incremental_dedup",
    (s, d) => {
      val docs = documents(s, d)
      val store = docs.filter(col("doc_id") % 5 =!= 4)
      val fresh = docs.filter(col("doc_id") % 5 === 4)
      graft.ext.IncrementalDedup.writeSignatureStore(store, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x34_sig_store",
        buckets = 8)
      graft.ext.IncrementalDedup.dedupAgainstStore(fresh, "doc_id", "text",
          shingleN = 3, numHashes = 16, nBands = 4,
          store = s.table("x34_sig_store"), minJaccard = 0.5)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
                           FROM bands n JOIN bands s ON n.b = s.b AND n.bk = s.bk
                           WHERE n.doc_id % 5 = 4 AND s.doc_id % 5 <> 4),
                 m AS MATERIALIZED (SELECT new_id, store_id
                       FROM pairs JOIN sig sa ON sa.doc_id = new_id
                                  JOIN sig sb ON sb.doc_id = store_id
                       WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 agg AS MATERIALIZED (SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_matches,
                                min(store_id) AS dup_of
                         FROM m GROUP BY new_id)
            SELECT d.doc_id, (a.dup_of IS NULL) AS kept,
                   COALESCE(a.n_store_matches, 0) AS n_store_matches, a.dup_of
            FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
            WHERE d.doc_id % 5 = 4
            ORDER BY d.doc_id"""))

  /** x16's duplicate-cluster resolution computed by the alternating
    * large-star/small-star algorithm
    * ([[graft.ext.DupClusters.connectedComponentsStars]], Kiveris et
    * al.) instead of label propagation — the planet-scale form, whose
    * round count is polylog in component size rather than linear in
    * diameter. Same pair pipeline, same oracle: the two
    * implementations must produce identical clusters. */
  private val x35 = Q("x35_neardup_clusters_stars",
    (s, d) => {
      val pairs = MinHash.nearDupPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5)
      graft.ext.DupClusters.connectedComponentsStars(pairs).orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
                           JOIN sig sa ON sa.doc_id = doc_a
                           JOIN sig sb ON sb.doc_id = doc_b
                           WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 e(u, v) AS (SELECT doc_a, doc_b FROM pairs
                             UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (SELECT u, v FROM e
                                 UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
            SELECT u AS doc_id, least(u, min(v)) AS canonical_id
            FROM reach GROUP BY u ORDER BY doc_id"""))

  /** x08 with the hot-bucket cap engaged (`maxBandDocs = 2` — at sf0.01
    * this skips the four 3-doc band buckets, so the check exercises the
    * cap's semantics, not just its no-op default): band keys matching
    * more docs than the cap are excluded from candidate generation
    * before the self-join. The 100 TB rationale: a boilerplate bucket
    * contributes pairs quadratically in its size through one skewed
    * key — see [[graft.ext.MinHash.candidatePairs]]. */
  private val x36 = Q("x36_neardup_capped",
    (s, d) => MinHash.nearDupPairs(documents(s, d), "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
        maxBandDocs = 2)
      .orderBy("doc_a", "doc_b"),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 sized AS MATERIALIZED (SELECT b, bk FROM bands GROUP BY b, bk HAVING count(*) <= 2),
                 kept AS MATERIALIZED (SELECT bands.doc_id, bands.b, bands.bk
                          FROM bands JOIN sized ON bands.b = sized.b AND bands.bk = sized.bk),
                 pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                           FROM kept a JOIN kept b
                             ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b,
                   CAST(len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) AS DOUBLE)/16 AS est_jaccard
            FROM pairs JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
            WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8
            ORDER BY doc_a, doc_b"""))

  /** The CONTINUOUS-ingest form of x34: the signature store is seeded
    * with shard 0 (doc_id ≡ 0 mod 3); shards 1 and 2 then land as one
    * file each and stream through
    * [[graft.ext.IncrementalDedup.streamIngest]] —
    * `maxFilesPerTrigger = 1` makes one micro-batch per landed file, so
    * shard 2 is deduplicated against shard 0 PLUS shard 1's survivors,
    * whose signatures entered the store only through the previous
    * micro-batch's append. The oracle replays the two-step
    * survivorship in SQL: shard-1 verdicts against shard 0, then
    * shard-2 verdicts against shard 0 ∪ kept(shard 1) — a doc whose
    * only match was DROPPED in shard 1 must stay kept.
    *
    * Since round 12 the checked configuration streams WITH the hot-key
    * cap engaged (`maxBandDocs = 2` through the per-key count side
    * table, which the loop's appends advance BETWEEN micro-batches) and
    * the x43 boilerplate seeding (`doc_id % 7 = 0`) so the cap provably
    * bites in batch 1 AND batch 2: a boilerplate doc in either shard is
    * kept (its only matches ride the over-cap key), and — because kept
    * docs append — the oracle's batch-2 key sizing must run over
    * shard 0 ∪ kept(shard 1), not shard 0 alone. Ordinary cross-shard
    * near-dups keep dropping through their sub-cap keys.
    *
    * Determinism: per-doc verdicts are arrival-order-free within a
    * batch, and the batch ORDER is pinned by explicit staged-file
    * modification times (the file source processes oldest first).
    *
    * Since round 13 the checked configuration also runs the in-loop
    * maintenance at its tightest cadence (`compactEvery = 1`): the
    * store and its count deltas are compacted after EVERY micro-batch,
    * so the oracle additionally proves that batch 2's dedup — and the
    * cap's count totals — are unchanged across a compaction boundary
    * (the results are compaction-invariant; only the file layout
    * changes). */
  private val x37 = Q("x37_stream_incremental_dedup",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x37-")
      val in = root.resolve("in"); val out = s"$root/out"; val chk = s"$root/chk"
      val boiler =
        "standard cookie banner please accept all cookies to continue reading"
      val docs = documents(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0, lit(boiler)).otherwise(col("text")))
      val stream = graft.util.Staging.stagedStream(in,
          Seq(docs.filter(col("doc_id") % 3 === 1),
            docs.filter(col("doc_id") % 3 === 2)))(
        graft.ext.IncrementalDedup.writeSignatureStore(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          shingleN = 3, numHashes = 16, nBands = 4, table = "x37_sig_store",
          buckets = 8))
      val job = graft.ext.IncrementalDedup.streamIngest(stream, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x37_sig_store",
        buckets = 8, minJaccard = 0.5, outPath = out, checkpoint = chk,
        maxBandDocs = 2, compactEvery = 1)
      job.awaitTermination()
      s.read.parquet(out)
        .select(col("doc_id"), col("kept"), col("n_store_matches"),
          col("dup_of"), col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS MATERIALIZED (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN 'standard cookie banner please accept all cookies to continue reading'
                        ELSE text END AS text
                 FROM documents),
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM docs),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 s1 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
                 s2 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
                 sized1 AS MATERIALIZED (SELECT b, bk FROM bands WHERE doc_id % 3 = 0
                            GROUP BY b, bk HAVING count(*) <= 2),
                 k1 AS MATERIALIZED (SELECT bands.doc_id, bands.b, bands.bk FROM bands
                        JOIN sized1 ON bands.b = sized1.b AND bands.bk = sized1.bk),
                 m1 AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
                        FROM k1 n JOIN k1 s ON n.b = s.b AND n.bk = s.bk
                        JOIN sig sa ON sa.doc_id = n.doc_id
                        JOIN sig sb ON sb.doc_id = s.doc_id
                        WHERE n.doc_id % 3 = 1 AND s.doc_id % 3 = 0
                          AND len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 v1 AS MATERIALIZED (SELECT s1.doc_id, (min(m1.store_id) IS NULL) AS kept,
                               CAST(count(m1.store_id) AS BIGINT) AS n_store_matches,
                               min(m1.store_id) AS dup_of
                        FROM s1 LEFT JOIN m1 ON s1.doc_id = m1.new_id
                        GROUP BY s1.doc_id),
                 st1 AS MATERIALIZED (SELECT doc_id FROM documents WHERE doc_id % 3 = 0
                         UNION ALL SELECT doc_id FROM v1 WHERE kept),
                 sized2 AS MATERIALIZED (SELECT b, bk FROM bands
                            JOIN st1 ON bands.doc_id = st1.doc_id
                            GROUP BY b, bk HAVING count(*) <= 2),
                 k2 AS MATERIALIZED (SELECT bands.doc_id, bands.b, bands.bk FROM bands
                        JOIN sized2 ON bands.b = sized2.b AND bands.bk = sized2.bk),
                 m2 AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
                        FROM k2 n JOIN k2 s ON n.b = s.b AND n.bk = s.bk
                        JOIN st1 ON s.doc_id = st1.doc_id
                        JOIN sig sa ON sa.doc_id = n.doc_id
                        JOIN sig sb ON sb.doc_id = s.doc_id
                        WHERE n.doc_id % 3 = 2
                          AND len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 v2 AS MATERIALIZED (SELECT s2.doc_id, (min(m2.store_id) IS NULL) AS kept,
                               CAST(count(m2.store_id) AS BIGINT) AS n_store_matches,
                               min(m2.store_id) AS dup_of
                        FROM s2 LEFT JOIN m2 ON s2.doc_id = m2.new_id
                        GROUP BY s2.doc_id)
            SELECT doc_id, kept, n_store_matches, dup_of,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 END AS BIGINT) AS batch_id
            FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            ORDER BY doc_id"""))

  /** Semantic dedup (SemDeDup): k-means clusters bound the candidate
    * space, exact cosine scores only cluster-mates, greedy-by-id
    * first-wins keep rule — see [[graft.ext.SemDedup]]. The oracle
    * replays the x23 integer-exact clustering verbatim and the x12
    * cosine fold within each cluster.
    *
    * The checked configuration runs WITH the blown-up-cluster guard
    * engaged: `maxClusterDocs = ceil(1.05 · N/k)`, i.e. a hair above
    * the expected cluster size, so on this corpus the cap provably
    * BITES at every scale factor (the largest clusters sit a few
    * percent above N/k) while most pairs survive — members of an
    * over-cap cluster are all kept, the operator's documented bounded
    * recall loss. Σ|cluster|² is then hard-bounded by k·cap² instead
    * of degenerating to N² when k is misconfigured for the corpus; a
    * production run would use a looser multiplier, but a cap the data
    * never reaches would leave the guard un-checked (the x36 lesson).
    * The oracle mirrors the cap as a cluster-size `HAVING` filter
    * computed from the same corpus count. */
  private val x38 = Q("x38_semantic_dedup",
    (s, d) => {
      val emb = embeddings(s, d)
      val cap = math.ceil(1.05 * emb.count() / 8).toInt
      SemDedup.verdicts(emb, "vec_id", "embedding",
          k = 8, rounds = 2, minCosine = 0.4, maxClusterDocs = cap)
        .orderBy("vec_id")
    },
    Some("""WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE)*1048576 + 0.5) AS BIGINT) + 2097152) AS u
                    FROM embeddings),
             ql AS MATERIALIZED (SELECT vec_id, e.e.i AS pos, e.e.x AS x
                    FROM q, unnest(list_transform(generate_series(1, len(u)),
                           i -> {'i': i-1, 'x': u[i]})) AS e(e)),
             c0 AS MATERIALIZED (SELECT vec_id AS cid, pos, x AS c FROM ql WHERE vec_id < 8),
             d1 AS MATERIALIZED (SELECT ql.vec_id, c0.cid, sum((ql.x - c0.c)*(ql.x - c0.c)) AS dist
                    FROM ql JOIN c0 USING (pos) GROUP BY 1, 2),
             a1 AS MATERIALIZED (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM d1),
             m1 AS MATERIALIZED (SELECT vec_id, cid FROM a1 WHERE rn = 1),
             c1 AS MATERIALIZED (SELECT m1.cid, ql.pos,
                      CAST((2*sum(ql.x) + count(*)) // (2*count(*)) AS BIGINT) AS c
                    FROM ql JOIN m1 USING (vec_id) GROUP BY 1, 2),
             d2 AS MATERIALIZED (SELECT ql.vec_id, c1.cid, sum((ql.x - c1.c)*(ql.x - c1.c)) AS dist
                    FROM ql JOIN c1 USING (pos) GROUP BY 1, 2),
             a2 AS MATERIALIZED (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM d2),
             cl AS MATERIALIZED (SELECT vec_id, CAST(cid AS INT) AS cluster FROM a2 WHERE rn = 1),
             ok AS MATERIALIZED (SELECT cluster FROM cl GROUP BY cluster
                    HAVING count(*) <= CAST(ceil(CAST(1.05 AS DOUBLE)
                      * (SELECT count(*) FROM embeddings) / 8) AS BIGINT)),
             pairs AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                       FROM cl a JOIN cl b
                         ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                       WHERE a.cluster IN (SELECT cluster FROM ok)),
             scored AS MATERIALIZED (SELECT id_a, id_b,
                 list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
               FROM pairs JOIN embeddings ea ON ea.vec_id = id_a
                          JOIN embeddings eb ON eb.vec_id = id_b),
             drp AS MATERIALIZED (SELECT id_b AS vec_id, min(id_a) AS dup_of
                     FROM scored WHERE cos >= 0.4 GROUP BY id_b)
            SELECT cl.vec_id, cl.cluster, (drp.dup_of IS NULL) AS kept, drp.dup_of
            FROM cl LEFT JOIN drp USING (vec_id)
            ORDER BY vec_id"""))

  /** Targeted retrieval: integer-exact TF-IDF top-10 per term-list
    * query via the inverted-index shape — see [[graft.ext.Retrieval]]. */
  private val x39 = Q("x39_targeted_retrieval",
    (s, d) => {
      import s.implicits._
      val qdf = Seq(
        (0L, Seq("spark", "window", "merge")),
        (1L, Seq("customer", "vector")),
        (2L, Seq("hash", "filter", "stream"))).toDF("query_id", "terms")
      Retrieval.topK(documents(s, d), "doc_id", "text", qdf, k = 10)
        .orderBy("query_id", "rank")
    },
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS term
                    FROM documents),
             tf AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                    FROM toks GROUP BY 1, 2),
             dfc AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             n AS MATERIALIZED (SELECT count(*) AS n_docs FROM documents),
             idf AS MATERIALIZED (SELECT term, (n_docs * 1000) // df AS idf FROM dfc, n),
             qt AS MATERIALIZED (SELECT * FROM (VALUES (0, 'spark'), (0, 'window'), (0, 'merge'),
                      (1, 'customer'), (1, 'vector'),
                      (2, 'hash'), (2, 'filter'), (2, 'stream')) AS t(query_id, term)),
             sc AS MATERIALIZED (SELECT query_id, doc_id, CAST(sum(tf.tf * idf.idf) AS BIGINT) AS score
                    FROM tf JOIN qt USING (term) JOIN idf USING (term)
                    GROUP BY 1, 2),
             rk AS MATERIALIZED (SELECT query_id, doc_id, score,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY score DESC, doc_id) AS rn
                    FROM sc)
            SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rn AS INT) AS rank,
                   doc_id, score
            FROM rk WHERE rn <= 10 ORDER BY query_id, rank"""))

  /** PII scrub over deterministically PII-seeded text: the synthetic
    * documents table carries no real PII, so the query plants one
    * email / IPv4 / phone per arithmetic residue class of `doc_id`
    * (both engines apply the identical seeding expression) and then
    * runs [[Pii.annotate]] — counts per class plus the md5 of the
    * redacted text. Exercises detection AND placeholder substitution
    * with known-nonzero match counts at every scale factor.
    */
  private val x40 = Q("x40_pii_scrub",
    (s, d) => {
      val id = col("doc_id")
      val seeded = documents(s, d).withColumn("__seeded", concat(
        col("text"),
        when(id % 5 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" from 10.0."), (id % 256).cast("string"),
          lit("."), expr("(doc_id DIV 7) % 256").cast("string"))).otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit(""))))
      Pii.annotate(seeded, "doc_id", "__seeded").orderBy("doc_id")
    },
    Some("""WITH seeded AS MATERIALIZED (SELECT doc_id, text
                 || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END
                 || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                 AS t FROM documents),
            r1 AS MATERIALIZED (SELECT doc_id, t,
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                   FROM seeded),
            r2 AS MATERIALIZED (SELECT doc_id, t, t1,
                     regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
                   FROM r1)
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
              CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
              md5(regexp_replace(t2, '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_fp,
              CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 + len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                 + len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_pii
            FROM r2 ORDER BY doc_id"""))

  /** Deterministic global corpus shuffle: seeded md5 permutation with
    * contiguous shard assignment — the terasort-shaped scale path
    * (range exchange + zipWithIndex), never a single-partition window.
    */
  private val x41 = Q("x41_corpus_shuffle",
    (s, d) => CorpusShuffle.order(documents(s, d), "doc_id",
        seed = "graft-shuffle-r7", shardSize = 128L)
      .orderBy("pos"),
    Some("""WITH k AS MATERIALIZED (SELECT doc_id,
                 md5('graft-shuffle-r7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
               FROM documents),
             p AS MATERIALIZED (SELECT doc_id, shuffle_key,
                 CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS pos
               FROM k)
            SELECT doc_id, shuffle_key, pos,
                   CAST(pos // 128 AS BIGINT) AS shard_id
            FROM p ORDER BY pos"""))

  /** Sliding-window chunking (win=64, stride=48 → 16-token overlap):
    * per-chunk offsets, lengths, and content fingerprints. */
  private val x42 = Q("x42_chunk_windows",
    (s, d) => Chunking.chunks(documents(s, d), "doc_id", "text",
        win = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH t AS MATERIALIZED (SELECT doc_id,
                 regexp_extract_all(lower(trim(text)), '\S+') AS toks
               FROM documents),
             n AS MATERIALIZED (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
               FROM t WHERE len(toks) > 0),
             c AS MATERIALIZED (SELECT doc_id, toks, n,
                 unnest(generate_series(0, (greatest(n - 64, 0) + 47) // 48)) AS chunk_idx
               FROM n)
            SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
                   CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_toks,
                   md5(array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')) AS chunk_fp
            FROM c ORDER BY doc_id, chunk_idx"""))

  /** x34 with the incremental HOT-KEY CAP engaged (`maxBandDocs = 2`
    * through the persisted per-key count side table —
    * [[graft.ext.IncrementalDedup.countsTable]]): band keys carrying
    * more than 2 STORE docs are excluded from candidate generation on
    * both join sides. To make the cap bite deterministically at every
    * scale factor, every `doc_id % 7 = 0` document's text is replaced
    * with one fixed boilerplate string (both engines apply the identical
    * seeding, the x40 convention): the store then holds far more than 2
    * identical boilerplate docs, so their shared band keys are hot and a
    * fresh boilerplate doc — whose ONLY matches go through those keys —
    * is KEPT (the documented bounded recall loss; identical docs are
    * exact-dedup's job upstream), while ordinary cross-shard near-dups
    * keep dropping through their sub-cap keys. The oracle mirrors the
    * cap as a store-side `HAVING count(*) <= 2` key filter over the
    * union replay. 100 TB rationale: the store is append-only state
    * (the engine's analogue of the reference MERGE key,
    * `dags/sql/4. merge_core.sql:83-84`), so an uncapped hot key grows
    * its candidate work quadratically across appends —
    * [[graft.ext.IncrementalDedup]]'s side-table contract is what keeps
    * per-shard dedup cost proportional to the shard. */
  private val x43 = Q("x43_incremental_capped",
    (s, d) => {
      val boiler =
        "standard cookie banner please accept all cookies to continue reading"
      val docs = documents(s, d).withColumn("text",
        when(col("doc_id") % 7 === 0, lit(boiler)).otherwise(col("text")))
      val store = docs.filter(col("doc_id") % 5 =!= 4)
      val fresh = docs.filter(col("doc_id") % 5 === 4)
      graft.ext.IncrementalDedup.writeSignatureStore(store, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x43_sig_store",
        buckets = 8)
      graft.ext.IncrementalDedup.dedupAgainstStore(fresh, "doc_id", "text",
          shingleN = 3, numHashes = 16, nBands = 4,
          store = s.table("x43_sig_store"), minJaccard = 0.5,
          maxBandDocs = 2,
          keyCounts = Some(s.table(
            graft.ext.IncrementalDedup.countsTable("x43_sig_store"))))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS MATERIALIZED (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN 'standard cookie banner please accept all cookies to continue reading'
                        ELSE text END AS text
                 FROM documents),
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM docs),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 sized AS MATERIALIZED (SELECT b, bk FROM bands WHERE doc_id % 5 <> 4
                           GROUP BY b, bk HAVING count(*) <= 2),
                 kept AS MATERIALIZED (SELECT bands.doc_id, bands.b, bands.bk
                          FROM bands JOIN sized ON bands.b = sized.b AND bands.bk = sized.bk),
                 pairs AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
                           FROM kept n JOIN kept s ON n.b = s.b AND n.bk = s.bk
                           WHERE n.doc_id % 5 = 4 AND s.doc_id % 5 <> 4),
                 m AS MATERIALIZED (SELECT new_id, store_id
                       FROM pairs JOIN sig sa ON sa.doc_id = new_id
                                  JOIN sig sb ON sb.doc_id = store_id
                       WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 agg AS MATERIALIZED (SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_matches,
                                min(store_id) AS dup_of
                         FROM m GROUP BY new_id)
            SELECT d.doc_id, (a.dup_of IS NULL) AS kept,
                   COALESCE(a.n_store_matches, 0) AS n_store_matches, a.dup_of
            FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
            WHERE d.doc_id % 5 = 4
            ORDER BY d.doc_id"""))

  /** x19's decontamination through the BLOOM-PREFILTER plan
    * ([[graft.ext.Decontaminate.contaminatedBloom]]): the eval gram set
    * aggregates into Spark's own serialized bloom filter, train grams
    * are probed map-side, and only the (probable) hits reach the exact
    * gram-keyed confirm join — the published benchmark-decontamination
    * deployment shape, and Spark's runtime-filter pattern made
    * explicit. The bloom is a prefilter with an exact confirm, so the
    * RESULTS are identical to x19 and the oracle is the same SQL —
    * what this query checks is that the cheaper plan computes the same
    * answer (false positives provably confirmed away; the spec also
    * stress-tests fpp = 0.5). */
  private val x44 = Q("x44_decontaminate_bloom",
    (s, d) => Decontaminate.contaminatedBloom(documents(s, d), "doc_id", "text",
        col("doc_id") % 10 === 0, n = 8)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             g AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
                      i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                   FROM toks WHERE len(w) >= 8),
             dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM g),
             ev AS MATERIALIZED (SELECT DISTINCT gram_fp FROM g WHERE doc_id % 10 = 0),
             tr AS MATERIALIZED (SELECT * FROM dg WHERE doc_id % 10 <> 0),
             tot AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
             sh AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
                    FROM tr JOIN ev USING (gram_fp) GROUP BY 1)
             SELECT s.doc_id, t.n_grams, s.n_shared,
                    CAST(s.n_shared AS DOUBLE) / t.n_grams AS contamination
             FROM sh s JOIN tot t USING (doc_id) ORDER BY doc_id"""))

  /** Incremental embedding dedup against a persisted IVF-bucketed
    * vector store ([[graft.ext.VectorStore]]) — the vector-space twin
    * of x34: the corpus splits into an already-ingested store
    * (vec_id % 5 ≠ 4, written as a catalog table bucketed by IVF cell)
    * and a new shard (vec_id % 5 = 4) that probes its 4 best of 16
    * cells and drops on exact cosine ≥ 0.4 against any store vector in
    * them — first-wins over the union, the store side read shuffle-free
    * and never re-assigned (PlanSpec pins the store subtree
    * Exchange-free). The oracle replays the x13 LCG codebook
    * (assignment + probes) and the x12 cosine fold over the split. */
  private val x45 = Q("x45_incremental_vec_dedup",
    (s, d) => {
      val emb = embeddings(s, d)
      graft.ext.VectorStore.writeVectorStore(
        emb.filter(col("vec_id") % 5 =!= 4), "vec_id", "embedding",
        nCentroids = 16, dim = 64, seedOffset = 100000L,
        table = "x45_vec_store", buckets = 8)
      graft.ext.VectorStore.dedupAgainstStore(
          emb.filter(col("vec_id") % 5 === 4), "vec_id", "embedding",
          store = s.table("x45_vec_store"), minCosine = 0.4,
          nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L)
        .orderBy("vec_id")
    },
    Some("""WITH sc AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), kk ->
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1)))
                     / sqrt(list_sum(list_transform(range(0,64), j ->
                         (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0 * 2 - 1)
                         * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                            / 2147483648.0 * 2 - 1))))) AS scores
                 FROM embeddings),
                 assigned AS MATERIALIZED (SELECT vec_id, embedding,
                                CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS cell
                              FROM sc WHERE vec_id % 5 <> 4),
                 probes AS MATERIALIZED (SELECT new_id, qe, cell FROM (
                     SELECT vec_id AS new_id, embedding AS qe, CAST(j AS INT) AS cell,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY scores[j+1] DESC, j) AS pr
                     FROM sc, (SELECT unnest(range(0,16)) AS j)
                     WHERE vec_id % 5 = 4)
                   WHERE pr <= 4),
                 m AS MATERIALIZED (SELECT new_id, a.vec_id AS store_id
                       FROM probes p JOIN assigned a
                         ON a.cell = p.cell AND a.vec_id <> p.new_id
                       WHERE list_sum(list_transform(list_zip(p.qe, a.embedding),
                               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                             / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                              * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                             >= 0.4),
                 agg AS MATERIALIZED (SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_matches,
                                min(store_id) AS dup_of
                         FROM m GROUP BY new_id)
            SELECT e.vec_id, (a.dup_of IS NULL) AS kept,
                   COALESCE(a.n_store_matches, 0) AS n_store_matches, a.dup_of
            FROM embeddings e LEFT JOIN agg a ON a.new_id = e.vec_id
            WHERE e.vec_id % 5 = 4
            ORDER BY e.vec_id"""))

  /** The CONTINUOUS-ingest form of x45 (and the vector twin of x37):
    * the IVF vector store is seeded with shard 0 (vec_id ≡ 0 mod 3);
    * shards 1 and 2 land as one file each and stream through
    * [[graft.ext.VectorStore.streamIngest]] — one micro-batch per file,
    * so shard 2 probes against shard 0 PLUS shard 1's survivors, whose
    * assigned vectors entered the store only through the previous
    * micro-batch's append. The oracle replays the two-step
    * survivorship with the x13 LCG codebook: shard-1 verdicts against
    * shard 0's cells, then shard-2 verdicts against
    * (shard 0 ∪ kept(shard 1))'s cells. Batch order pinned by staged
    * file modification times, as x37.
    *
    * Since round 13 the checked configuration streams WITH the
    * hot-cell cap engaged (the x47 seeding and cap formula — every
    * `vec_id % 7 = 0` embedding replaced by one fixed boilerplate
    * vector, `maxCellVecs = ceil(1.05 · |shard 0| / nCentroids)`)
    * through the per-cell count side table, which the loop's appends
    * advance BETWEEN micro-batches: the boilerplate cell is over cap
    * already in batch 1 and stays over cap in batch 2, so a
    * boilerplate vector in either shard can only drop through matches
    * in its OTHER probed cells — and the oracle's batch-2 cell sizing
    * must run over shard 0 ∪ kept(shard 1), not shard 0 alone, or the
    * cell-size filter diverges. Ordinary cross-shard twins keep
    * dropping through their sub-cap cells. */
  private val x46 = Q("x46_stream_vec_dedup",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x46-")
      val in = root.resolve("in"); val out = s"$root/out"; val chk = s"$root/chk"
      val boiler = array((0 until 64).map(j => lit((j % 7 - 3).toFloat)): _*)
      val emb = embeddings(s, d).withColumn("embedding",
        when(col("vec_id") % 7 === 0, boiler).otherwise(col("embedding")))
      val shard0 = emb.filter(col("vec_id") % 3 === 0)
      val cap = math.ceil(1.05 * shard0.count() / 16).toLong
      val stream = graft.util.Staging.stagedStream(in,
          Seq(emb.filter(col("vec_id") % 3 === 1),
            emb.filter(col("vec_id") % 3 === 2)))(
        graft.ext.VectorStore.writeVectorStore(
          shard0, "vec_id", "embedding",
          nCentroids = 16, dim = 64, seedOffset = 100000L,
          table = "x46_vec_store", buckets = 8))
      val job = graft.ext.VectorStore.streamIngest(stream, "vec_id", "embedding",
        table = "x46_vec_store", buckets = 8, minCosine = 0.4,
        nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L,
        outPath = out, checkpoint = chk, maxCellVecs = cap)
      job.awaitTermination()
      s.read.parquet(out)
        .select(col("vec_id"), col("kept"), col("n_store_matches"),
          col("dup_of"), col("batch_id").cast("long").as("batch_id"))
        .orderBy("vec_id")
    },
    Some("""WITH emb2 AS MATERIALIZED (SELECT vec_id,
                   CASE WHEN vec_id % 7 = 0
                        THEN list_transform(range(0,64), j -> CAST(j % 7 - 3 AS FLOAT))
                        ELSE embedding END AS embedding
                 FROM embeddings),
                 sc AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), kk ->
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1)))
                     / sqrt(list_sum(list_transform(range(0,64), j ->
                         (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0 * 2 - 1)
                         * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                            / 2147483648.0 * 2 - 1))))) AS scores
                 FROM emb2),
                 cells AS MATERIALIZED (SELECT vec_id, embedding,
                             CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS cell
                           FROM sc),
                 cap AS MATERIALIZED (SELECT CAST(ceiling(1.05 * count(*) / 16) AS BIGINT) AS cap
                         FROM embeddings WHERE vec_id % 3 = 0),
                 probes AS MATERIALIZED (SELECT new_id, qe, cell FROM (
                     SELECT vec_id AS new_id, embedding AS qe, CAST(j AS INT) AS cell,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY scores[j+1] DESC, j) AS pr
                     FROM sc, (SELECT unnest(range(0,16)) AS j))
                   WHERE pr <= 4),
                 s1 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 1),
                 s2 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 2),
                 sized1 AS MATERIALIZED (SELECT cell FROM cells WHERE vec_id % 3 = 0
                            GROUP BY cell HAVING count(*) <= (SELECT cap FROM cap)),
                 m1 AS MATERIALIZED (SELECT p.new_id, a.vec_id AS store_id
                        FROM probes p JOIN cells a
                          ON a.cell = p.cell AND a.vec_id <> p.new_id
                        JOIN sized1 ON a.cell = sized1.cell
                        WHERE p.new_id % 3 = 1 AND a.vec_id % 3 = 0
                          AND list_sum(list_transform(list_zip(p.qe, a.embedding),
                                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                              / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                               * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                              >= 0.4),
                 v1 AS MATERIALIZED (SELECT s1.vec_id, (min(m1.store_id) IS NULL) AS kept,
                               CAST(count(m1.store_id) AS BIGINT) AS n_store_matches,
                               min(m1.store_id) AS dup_of
                        FROM s1 LEFT JOIN m1 ON s1.vec_id = m1.new_id
                        GROUP BY s1.vec_id),
                 st1 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
                         UNION ALL SELECT vec_id FROM v1 WHERE kept),
                 sized2 AS MATERIALIZED (SELECT a.cell FROM cells a JOIN st1 ON a.vec_id = st1.vec_id
                            GROUP BY a.cell HAVING count(*) <= (SELECT cap FROM cap)),
                 m2 AS MATERIALIZED (SELECT p.new_id, a.vec_id AS store_id
                        FROM probes p JOIN cells a
                          ON a.cell = p.cell AND a.vec_id <> p.new_id
                        JOIN st1 ON a.vec_id = st1.vec_id
                        JOIN sized2 ON a.cell = sized2.cell
                        WHERE p.new_id % 3 = 2
                          AND list_sum(list_transform(list_zip(p.qe, a.embedding),
                                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                              / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                               * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                              >= 0.4),
                 v2 AS MATERIALIZED (SELECT s2.vec_id, (min(m2.store_id) IS NULL) AS kept,
                               CAST(count(m2.store_id) AS BIGINT) AS n_store_matches,
                               min(m2.store_id) AS dup_of
                        FROM s2 LEFT JOIN m2 ON s2.vec_id = m2.new_id
                        GROUP BY s2.vec_id)
            SELECT vec_id, kept, n_store_matches, dup_of,
                   CAST(CASE WHEN vec_id % 3 = 1 THEN 0 ELSE 1 END AS BIGINT) AS batch_id
            FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            ORDER BY vec_id"""))

  /** x45 with the incremental HOT-CELL CAP engaged (the vector-store
    * twin of x43): cells carrying more store vectors than
    * `maxCellVecs = ceil(1.05 · |store| / nCentroids)` — a hair above
    * the expected cell size, the x38 convention, so the cap provably
    * bites at every scale factor — are excluded from candidate
    * generation on both sides through the persisted per-cell count
    * side table ([[graft.ext.VectorStore.countsTable]]). To seed a hot
    * cell deterministically, every `vec_id % 7 = 0` embedding is
    * replaced by ONE fixed boilerplate vector (exactly-representable
    * integer components, so float-vs-double arithmetic cannot diverge;
    * both engines apply the identical seeding, the x40/x43
    * convention): all boilerplate vectors share one argmax cell, which
    * then holds ~1/7 of the store ≫ cap, so a fresh boilerplate vector
    * can match only through its OTHER probed cells — the documented
    * bounded recall loss on exactly the vectors upstream exact dedup
    * collapses — while ordinary near-dups keep dropping through their
    * sub-cap cells. The oracle mirrors the cap as a store-side
    * cell-size `HAVING` filter computed from the same corpus count.
    * 100 TB rationale: the store is append-only state, so an uncapped
    * hot cell grows every future shard's probe-join candidate work
    * unboundedly — the side-table contract is what keeps per-shard
    * dedup cost proportional to the shard (reference MERGE-key state:
    * `dags/sql/4. merge_core.sql:83-84`). */
  private val x47 = Q("x47_incremental_vec_capped",
    (s, d) => {
      val boiler = array((0 until 64).map(j => lit((j % 7 - 3).toFloat)): _*)
      val emb = embeddings(s, d).withColumn("embedding",
        when(col("vec_id") % 7 === 0, boiler).otherwise(col("embedding")))
      val store = emb.filter(col("vec_id") % 5 =!= 4)
      val cap = math.ceil(1.05 * store.count() / 16).toLong
      graft.ext.VectorStore.writeVectorStore(store, "vec_id", "embedding",
        nCentroids = 16, dim = 64, seedOffset = 100000L,
        table = "x47_vec_store", buckets = 8)
      graft.ext.VectorStore.dedupAgainstStore(
          emb.filter(col("vec_id") % 5 === 4), "vec_id", "embedding",
          store = s.table("x47_vec_store"), minCosine = 0.4,
          nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L,
          maxCellVecs = cap,
          cellCounts = Some(s.table(
            graft.ext.VectorStore.countsTable("x47_vec_store"))))
        .orderBy("vec_id")
    },
    Some("""WITH emb2 AS MATERIALIZED (SELECT vec_id,
                   CASE WHEN vec_id % 7 = 0
                        THEN list_transform(range(0,64), j -> CAST(j % 7 - 3 AS FLOAT))
                        ELSE embedding END AS embedding
                 FROM embeddings),
                 sc AS MATERIALIZED (SELECT vec_id, embedding,
                   list_transform(range(0,16), kk ->
                     list_sum(list_transform(list_zip(embedding, range(0,64)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1)))
                     / sqrt(list_sum(list_transform(range(0,64), j ->
                         (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                          / 2147483648.0 * 2 - 1)
                         * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                            / 2147483648.0 * 2 - 1))))) AS scores
                 FROM emb2),
                 assigned AS MATERIALIZED (SELECT vec_id, embedding,
                                CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS cell
                              FROM sc WHERE vec_id % 5 <> 4),
                 sized AS MATERIALIZED (SELECT cell FROM assigned GROUP BY cell
                           HAVING count(*) <=
                             CAST(ceiling(1.05 * (SELECT count(*) FROM assigned) / 16) AS BIGINT)),
                 aok AS MATERIALIZED (SELECT a.vec_id, a.embedding, a.cell
                         FROM assigned a JOIN sized ON a.cell = sized.cell),
                 probes AS MATERIALIZED (SELECT new_id, qe, cell FROM (
                     SELECT vec_id AS new_id, embedding AS qe, CAST(j AS INT) AS cell,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY scores[j+1] DESC, j) AS pr
                     FROM sc, (SELECT unnest(range(0,16)) AS j)
                     WHERE vec_id % 5 = 4)
                   WHERE pr <= 4),
                 m AS MATERIALIZED (SELECT new_id, a.vec_id AS store_id
                       FROM probes p JOIN aok a
                         ON a.cell = p.cell AND a.vec_id <> p.new_id
                       WHERE list_sum(list_transform(list_zip(p.qe, a.embedding),
                               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                             / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                              * sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                             >= 0.4),
                 agg AS MATERIALIZED (SELECT new_id, CAST(count(*) AS BIGINT) AS n_store_matches,
                                min(store_id) AS dup_of
                         FROM m GROUP BY new_id)
            SELECT e.vec_id, (a.dup_of IS NULL) AS kept,
                   COALESCE(a.n_store_matches, 0) AS n_store_matches, a.dup_of
            FROM embeddings e LEFT JOIN agg a ON a.new_id = e.vec_id
            WHERE e.vec_id % 5 = 4
            ORDER BY e.vec_id"""))

  /** x13's IVF top-k with a TRAINED codebook
    * ([[graft.ext.Similarity.ivfTopKTrained]]): the 16 LCG cells are
    * replaced by 16 fitted k-means centroids ([[graft.ext.KMeans.fit]],
    * the x23 trainer — 2 rounds, k-lowest-id seed), assignment and
    * probe ranking by exact integer L2 in the quantized domain, same
    * probe budget and exact-cosine re-rank. Because the trainer is
    * integer-exact end to end, the WHOLE path stays oracle-checkable:
    * the oracle replays x23's clustering verbatim (k = 16), derives the
    * round-2 codebook, and re-scores corpus and queries against it.
    * RecallSpec pins what this query cannot (that training BUYS recall
    * — 0.74 vs 0.40 at the same budget on this corpus); this query pins
    * that the drop-in scorer computes exactly what it claims. */
  private val x48 = Q("x48_knn_ivf_trained",
    (s, d) => {
      val emb = embeddings(s, d)
      val codebook = KMeans.fit(emb, "vec_id", "embedding", k = 16, rounds = 2)
      Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, centroids = codebook, nProbe = 4)
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE)*1048576 + 0.5) AS BIGINT) + 2097152) AS u
                    FROM embeddings),
             ql AS MATERIALIZED (SELECT vec_id, e.e.i AS pos, e.e.x AS x
                    FROM q, unnest(list_transform(generate_series(1, len(u)),
                           i -> {'i': i-1, 'x': u[i]})) AS e(e)),
             c0 AS MATERIALIZED (SELECT vec_id AS cid, pos, x AS c FROM ql WHERE vec_id < 16),
             d1 AS MATERIALIZED (SELECT ql.vec_id, c0.cid, sum((ql.x - c0.c)*(ql.x - c0.c)) AS dist
                    FROM ql JOIN c0 USING (pos) GROUP BY 1, 2),
             a1 AS MATERIALIZED (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                    FROM d1),
             m1 AS MATERIALIZED (SELECT vec_id, cid FROM a1 WHERE rn = 1),
             c1 AS MATERIALIZED (SELECT m1.cid, ql.pos,
                      CAST((2*sum(ql.x) + count(*)) // (2*count(*)) AS BIGINT) AS c
                    FROM ql JOIN m1 USING (vec_id) GROUP BY 1, 2),
             d2 AS MATERIALIZED (SELECT ql.vec_id, c1.cid, sum((ql.x - c1.c)*(ql.x - c1.c)) AS dist
                    FROM ql JOIN c1 USING (pos) GROUP BY 1, 2),
             asg AS MATERIALIZED (SELECT vec_id, cid FROM
                       (SELECT vec_id, cid,
                          row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                        FROM d2)
                     WHERE rn = 1),
             prn AS MATERIALIZED (SELECT vec_id AS query_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
                     FROM d2 WHERE vec_id < 8),
             probes AS MATERIALIZED (SELECT query_id, cid FROM prn WHERE pr <= 4),
             scored AS MATERIALIZED (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                 list_sum(list_transform(list_zip(qe.embedding, ne.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(ne.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS sim
               FROM probes p
               JOIN asg a ON a.cid = p.cid AND a.vec_id <> p.query_id
               JOIN embeddings qe ON qe.vec_id = p.query_id
               JOIN embeddings ne ON ne.vec_id = a.vec_id),
             r AS MATERIALIZED (SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
                   FROM scored)
            SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
            FROM r WHERE rn <= 5 ORDER BY query_id, rank"""))

  /** The TRAINED-codebook incremental vector-store loop — x46's
    * continuous ingest with x48's fitted k-means cells, end to end on
    * the PRODUCTION path ([[graft.ext.VectorStore.writeVectorStoreTrained]]
    * / [[graft.ext.VectorStore.streamIngestTrained]]): the codebook is
    * fitted on shard 0 (vec_id ≡ 0 mod 3, k = 16, 2 rounds, the x23
    * trainer), PERSISTED next to the store, and every micro-batch
    * re-reads it for both probes and survivor appends — so shard 2's
    * verdicts depend on shard 1's survivors having been assigned with
    * the STORE's codebook, not a re-derived one. Because the trainer is
    * integer-exact, the whole loop stays oracle-checkable: the oracle
    * replays the k-means fit over shard 0 verbatim (seed = 16
    * lowest-id members, one update round), re-scores every vector
    * against the round-2 codebook by exact quantized L2 (ties to the
    * lowest cid — cid order and the store's positional cell order are
    * isomorphic, so joining on cid is exact), and then replays the
    * two-step first-wins survivorship exactly as x46. RecallSpec pins
    * separately that the trained store path RETRIEVES at least as well
    * as the LCG store path at the same probe budget.
    *
    * The checked config streams with `compactEvery = 1` (a COVERAGE
    * choice, as x37's — see the streamIngest docstrings for production
    * sizing): batch 2's verdicts are computed against a store that was
    * fully compacted — staging-swapped, counts-rebuilt, ledger-pruned —
    * after batch 1, so the oracle proves the maintenance pass preserves
    * dedup semantics across the batch boundary. */
  private val x49 = Q("x49_stream_vec_trained",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x49-")
      val in = root.resolve("in"); val out = s"$root/out"; val chk = s"$root/chk"
      val emb = embeddings(s, d)
      val shard0 = emb.filter(col("vec_id") % 3 === 0)
      val codebook = KMeans.fit(shard0, "vec_id", "embedding",
        k = 16, rounds = 2)
      val stream = graft.util.Staging.stagedStream(in,
          Seq(emb.filter(col("vec_id") % 3 === 1),
            emb.filter(col("vec_id") % 3 === 2)))(
        graft.ext.VectorStore.writeVectorStoreTrained(shard0, "vec_id",
          "embedding", codebook, table = "x49_vec_store", buckets = 8))
      val job = graft.ext.VectorStore.streamIngestTrained(stream, "vec_id",
        "embedding", table = "x49_vec_store", buckets = 8, minCosine = 0.4,
        nProbe = 4, outPath = out, checkpoint = chk, compactEvery = 1)
      job.awaitTermination()
      s.read.parquet(out)
        .select(col("vec_id"), col("kept"), col("n_store_matches"),
          col("dup_of"), col("batch_id").cast("long").as("batch_id"))
        .orderBy("vec_id")
    },
    Some("""WITH q AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
                      v -> CAST(floor(CAST(v AS DOUBLE)*1048576 + 0.5) AS BIGINT) + 2097152) AS u
                    FROM embeddings),
             ql AS MATERIALIZED (SELECT vec_id, e.e.i AS pos, e.e.x AS x
                    FROM q, unnest(list_transform(generate_series(1, len(u)),
                           i -> {'i': i-1, 'x': u[i]})) AS e(e)),
             seeds AS MATERIALIZED (SELECT vec_id, rn - 1 AS cid FROM (
                         SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
                         FROM embeddings WHERE vec_id % 3 = 0)
                       WHERE rn <= 16),
             c0 AS MATERIALIZED (SELECT s.cid, ql.pos, ql.x AS c
                    FROM seeds s JOIN ql ON ql.vec_id = s.vec_id),
             d1 AS MATERIALIZED (SELECT ql.vec_id, c0.cid, sum((ql.x - c0.c)*(ql.x - c0.c)) AS dist
                    FROM ql JOIN c0 USING (pos)
                    WHERE ql.vec_id % 3 = 0
                    GROUP BY 1, 2),
             m1 AS MATERIALIZED (SELECT vec_id, cid FROM
                      (SELECT vec_id, cid,
                         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                       FROM d1)
                    WHERE rn = 1),
             c1 AS MATERIALIZED (SELECT m1.cid, ql.pos,
                      CAST((2*sum(ql.x) + count(*)) // (2*count(*)) AS BIGINT) AS c
                    FROM ql JOIN m1 USING (vec_id) GROUP BY 1, 2),
             d2 AS MATERIALIZED (SELECT ql.vec_id, c1.cid, sum((ql.x - c1.c)*(ql.x - c1.c)) AS dist
                    FROM ql JOIN c1 USING (pos) GROUP BY 1, 2),
             cells AS MATERIALIZED (SELECT vec_id, cid FROM
                         (SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                          FROM d2)
                       WHERE rn = 1),
             probes AS MATERIALIZED (SELECT vec_id AS new_id, cid FROM
                          (SELECT vec_id, cid,
                             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS pr
                           FROM d2 WHERE vec_id % 3 <> 0)
                        WHERE pr <= 4),
             s1 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 1),
             s2 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 2),
             m1v AS MATERIALIZED (SELECT p.new_id, a.vec_id AS store_id
                     FROM probes p JOIN cells a
                       ON a.cid = p.cid AND a.vec_id <> p.new_id
                     JOIN embeddings qe ON qe.vec_id = p.new_id
                     JOIN embeddings ne ON ne.vec_id = a.vec_id
                     WHERE p.new_id % 3 = 1 AND a.vec_id % 3 = 0
                       AND list_sum(list_transform(list_zip(qe.embedding, ne.embedding),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                           / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(ne.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                           >= 0.4),
             v1 AS MATERIALIZED (SELECT s1.vec_id, (min(m1v.store_id) IS NULL) AS kept,
                           CAST(count(m1v.store_id) AS BIGINT) AS n_store_matches,
                           min(m1v.store_id) AS dup_of
                    FROM s1 LEFT JOIN m1v ON s1.vec_id = m1v.new_id
                    GROUP BY s1.vec_id),
             st1 AS MATERIALIZED (SELECT vec_id FROM embeddings WHERE vec_id % 3 = 0
                     UNION ALL SELECT vec_id FROM v1 WHERE kept),
             m2v AS MATERIALIZED (SELECT p.new_id, a.vec_id AS store_id
                     FROM probes p JOIN cells a
                       ON a.cid = p.cid AND a.vec_id <> p.new_id
                     JOIN st1 ON a.vec_id = st1.vec_id
                     JOIN embeddings qe ON qe.vec_id = p.new_id
                     JOIN embeddings ne ON ne.vec_id = a.vec_id
                     WHERE p.new_id % 3 = 2
                       AND list_sum(list_transform(list_zip(qe.embedding, ne.embedding),
                             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                           / (sqrt(list_sum(list_transform(qe.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(ne.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                           >= 0.4),
             v2 AS MATERIALIZED (SELECT s2.vec_id, (min(m2v.store_id) IS NULL) AS kept,
                           CAST(count(m2v.store_id) AS BIGINT) AS n_store_matches,
                           min(m2v.store_id) AS dup_of
                    FROM s2 LEFT JOIN m2v ON s2.vec_id = m2v.new_id
                    GROUP BY s2.vec_id)
            SELECT vec_id, kept, n_store_matches, dup_of,
                   CAST(CASE WHEN vec_id % 3 = 1 THEN 0 ELSE 1 END AS BIGINT) AS batch_id
            FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            ORDER BY vec_id"""))

  /** Incremental EXACT dedup against a persisted fingerprint store
    * ([[graft.ext.ExactDedup.dedupExactAgainstStore]]) — in production
    * the FIRST dedup stage, run before any near-dup pass: the corpus
    * minus shard 2 (doc_id % 3 ≠ 2) is ingested as a bucketed
    * `(fp, canonical_id)` store, and the new shard — the %3 = 2 docs
    * plus a deterministic RE-CRAWL (doc_id % 7 = 0 docs re-arriving
    * under id + 100000, the operational case exact dedup exists for) —
    * left-joins it on the md5 fingerprint of normalized text. Re-crawls
    * of STORE docs drop with `dup_of` = the original id; re-crawls of
    * shard-2 docs keep (their original is not in the store — that
    * cross-shard gap is the near-dup/batch operators' jurisdiction);
    * novel docs keep. Store side reads bucketed, shuffle-free (PlanSpec
    * pins it); no text on the wire. */
  private val x50 = Q("x50_incremental_exact_dedup",
    (s, d) => {
      val docs = documents(s, d)
      ExactDedup.writeFingerprintStore(docs.filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", table = "x50_fp_store", buckets = 8)
      val fresh = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      ExactDedup.dedupExactAgainstStore(fresh, "doc_id", "text",
          s.table("x50_fp_store"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id,
                         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                       FROM documents),
                 store AS MATERIALIZED (SELECT fp, min(doc_id) AS canonical_id
                           FROM f WHERE doc_id % 3 <> 2 GROUP BY fp),
                 fresh AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 3 = 2
                           UNION ALL
                           SELECT doc_id + 100000, fp FROM f WHERE doc_id % 7 = 0)
            SELECT fr.doc_id, (s.canonical_id IS NULL) AS kept,
                   s.canonical_id AS dup_of
            FROM fresh fr LEFT JOIN store s ON fr.fp = s.fp
            ORDER BY fr.doc_id"""))

  /** The CONTINUOUS-ingest form of x50 ([[graft.ext.ExactDedup.streamIngest]]):
    * the fingerprint store is seeded with shard 0 (doc_id ≡ 0 mod 3);
    * two shards then land as one staged file each and stream through
    * the exactly-once loop. Shard 1 = the %3 = 1 originals plus a
    * RE-CRAWL of part of the store (doc_id % 3 = 0 ∧ % 5 = 0 under
    * id + 100000 — dropped, `dup_of` = the original). Shard 2 = the
    * %3 = 2 originals plus re-crawls of SHARD-1 docs (%3 = 1 ∧ %4 = 1
    * under +200000 — their originals entered the store only through
    * batch 0's append, the cross-batch proof) and a SECOND re-crawl of
    * the shard-1 re-crawls (+300000 — still `dup_of` = the ORIGINAL
    * store id, proving first-wins canonical survives a dropped copy).
    * In-loop compaction runs on the files-per-bucket DECAY trigger
    * (`maxFilesPerBucket = 1` — the production cadence x37/x49 check
    * via fixed `compactEvery`), so the oracle additionally proves
    * verdicts are compaction-invariant under the trigger. Batch order
    * is pinned by staged-file modification times. */
  private val x51 = Q("x51_stream_exact_dedup",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x51-")
      val in = root.resolve("in"); val out = s"$root/out"; val chk = s"$root/chk"
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      def recrawl(pred: org.apache.spark.sql.Column, offset: Long) =
        docs.filter(pred).select((col("doc_id") + offset).as("doc_id"),
          col("text"))
      val shard1 = docs.filter(col("doc_id") % 3 === 1)
        .unionByName(recrawl(col("doc_id") % 3 === 0 &&
          col("doc_id") % 5 === 0, 100000L))
      val shard2 = docs.filter(col("doc_id") % 3 === 2)
        .unionByName(recrawl(col("doc_id") % 3 === 1 &&
          col("doc_id") % 4 === 1, 200000L))
        .unionByName(recrawl(col("doc_id") % 3 === 0 &&
          col("doc_id") % 5 === 0, 300000L))
      val stream = graft.util.Staging.stagedStream(in, Seq(shard1, shard2))(
        graft.ext.ExactDedup.writeFingerprintStore(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          table = "x51_fp_store", buckets = 8))
      graft.ext.ExactDedup.streamIngest(stream, "doc_id", "text",
          table = "x51_fp_store", buckets = 8, outPath = out,
          checkpoint = chk, maxFilesPerBucket = 1)
        .awaitTermination()
      s.read.parquet(out)
        .select(col("doc_id"), col("kept"), col("dup_of"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id,
                         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                       FROM documents),
                 store0 AS MATERIALIZED (SELECT fp, min(doc_id) AS cid
                            FROM f WHERE doc_id % 3 = 0 GROUP BY fp),
                 b1 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 3 = 1
                        UNION ALL
                        SELECT doc_id + 100000, fp FROM f
                        WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
                 v1 AS MATERIALIZED (SELECT b1.doc_id, (s.cid IS NULL) AS kept, s.cid AS dup_of,
                               CAST(0 AS BIGINT) AS batch_id
                        FROM b1 LEFT JOIN store0 s ON b1.fp = s.fp),
                 grow AS MATERIALIZED (SELECT b1.fp, min(b1.doc_id) AS cid
                          FROM b1 JOIN v1 ON v1.doc_id = b1.doc_id
                          LEFT JOIN store0 s ON b1.fp = s.fp
                          WHERE v1.kept AND s.cid IS NULL
                          GROUP BY b1.fp),
                 store1 AS MATERIALIZED (SELECT fp, cid FROM store0
                            UNION ALL SELECT fp, cid FROM grow),
                 b2 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 3 = 2
                        UNION ALL
                        SELECT doc_id + 200000, fp FROM f
                        WHERE doc_id % 3 = 1 AND doc_id % 4 = 1
                        UNION ALL
                        SELECT doc_id + 300000, fp FROM f
                        WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
                 s1m AS MATERIALIZED (SELECT fp, min(cid) AS cid FROM store1 GROUP BY fp),
                 v2 AS MATERIALIZED (SELECT b2.doc_id, (s.cid IS NULL) AS kept, s.cid AS dup_of,
                               CAST(1 AS BIGINT) AS batch_id
                        FROM b2 LEFT JOIN s1m s ON b2.fp = s.fp)
            SELECT doc_id, kept, dup_of, batch_id
            FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            ORDER BY doc_id"""))

  /** x44's decontamination served from a PERSISTED benchmark store
    * ([[graft.ext.Decontaminate.writeBenchmarkStore]] /
    * `contaminatedAgainstStore`): the eval split's distinct gram
    * fingerprints land once as a gram_fp-bucketed table with the
    * trained bloom filter in a 1-row meta table beside it, and the
    * training shard is checked against the store — bloom prefilter
    * map-side, exact confirm semi-join reading the store's buckets in
    * place (plan-pinned Exchange-free on the store side). Must produce
    * exactly x44's answer over the same split — the oracle IS x44's. */
  private val x52 = Q("x52_decontaminate_store",
    (s, d) => {
      val docs = documents(s, d)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x52_bench_store", buckets = 8)
      Decontaminate.contaminatedAgainstStore(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          "x52_bench_store")
        .orderBy("doc_id")
    },
    Some(benchContamOracle))

  /** The x52 store-served contamination oracle (the x44 split over the
    * FULL %10 benchmark), shared verbatim by x71's append-grown store —
    * append-then-serve must equal a store rebuilt on the whole
    * benchmark, so the two queries must read the SAME replay. */
  private lazy val benchContamOracle = s"""WITH $tokSql,
             g AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
                      i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                   FROM toks WHERE len(w) >= 8),
             dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM g),
             ev AS MATERIALIZED (SELECT DISTINCT gram_fp FROM g WHERE doc_id % 10 = 0),
             tr AS MATERIALIZED (SELECT * FROM dg WHERE doc_id % 10 <> 0),
             tot AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr GROUP BY 1),
             sh AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
                    FROM tr JOIN ev USING (gram_fp) GROUP BY 1)
             SELECT s.doc_id, t.n_grams, s.n_shared,
                    CAST(s.n_shared AS DOUBLE) / t.n_grams AS contamination
             FROM sh s JOIN tot t USING (doc_id) ORDER BY doc_id"""

  /** Bigram-LM quality scoring ([[graft.ext.LmScore]] — the
    * CCNet/KenLM filtering pattern): bigram statistics are fitted on
    * the reference split (doc_id % 10 ≠ 0) and EVERY document is scored
    * by its mean transition probability
    * `avg over positions of c(w₁w₂)/c(w₁)`, unseen transitions backing
    * off to 0 — so the held-out (%10 = 0) docs exercise the
    * unfamiliar-mass path. Probabilities are quantized to floor(p·2³⁰)
    * integers before the per-doc sum (order-free, engine-exact; the
    * volatility discipline applied to probabilities), and the oracle
    * replays the identical division/quantize/sum/divide sequence, so
    * the DOUBLE scores hash bit-exact. */
  /** The LM-scoring oracle, shared by x53 (in-memory model), x54
    * (persisted model store), and x55 (store grown by an O(shard)
    * append): all three formulations MUST land on the same reference
    * model over `doc_id % 10 ≠ 0` and therefore byte-identical scores —
    * the x52/x44 adjudication pattern (same answer, cheaper plan). */
  /** x53's model/pairs replay as a CTE prefix (pairs + unigram/bigram
    * counts + per-doc quantized sums), shared by the scoring oracles
    * (x53/x54/x55) and x59's per-source quantile gate. */
  private val lmCascadeSql = s"""WITH $tokSql,
             pairs AS MATERIALIZED (SELECT doc_id, u.pr.uf AS uni_fp, u.pr.bf AS bi_fp
                       FROM toks, unnest(list_transform(generate_series(1, len(w)-1),
                         i -> {'uf': CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT),
                               'bf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
                       WHERE len(w) >= 2),
             c1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)),
                        i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 1)
                    GROUP BY fp),
             c2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)-1),
                        i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 2)
                    GROUP BY fp),
             sc AS MATERIALIZED (SELECT p.doc_id,
                      CAST(count(*) AS BIGINT) AS n_bigrams,
                      CAST(sum(CAST(floor(COALESCE(CAST(c2.c AS DOUBLE) / CAST(c1.c AS DOUBLE), 0.0)
                                          * 1073741824.0) AS BIGINT)) AS BIGINT) AS p_sum_q
                    FROM pairs p
                    LEFT JOIN c2 ON p.bi_fp = c2.fp
                    LEFT JOIN c1 ON p.uni_fp = c1.fp
                    GROUP BY p.doc_id)"""

  private val lmScoreOracle = s"""$lmCascadeSql
            SELECT d.doc_id,
                   COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                   sc.p_sum_q,
                   CAST(sc.p_sum_q AS DOUBLE) / 1073741824.0
                     / CAST(sc.n_bigrams AS DOUBLE) AS lm_score
            FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
            ORDER BY d.doc_id"""

  private val x53 = Q("x53_lm_quality_score",
    (s, d) => {
      val docs = documents(s, d)
      val ref = docs.filter(col("doc_id") % 10 =!= 0)
      // fit is ONE pass over the reference; the model is eagerly
      // materialized (score consumes it once per gram order)
      val model = graft.ext.LmScore.fit(ref, "text").localCheckpoint(true)
      graft.ext.LmScore.score(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
    Some(lmScoreOracle))

  /** x53's scoring served from a PERSISTED model store
    * ([[graft.ext.LmScore.writeModelStore]] / `scoreAgainstStore`): the
    * reference corpus's unigram+bigram counts land once as an
    * fp-bucketed catalog table with the gram/quantizer contract in a
    * 1-row meta table beside it (the build's commit marker), and every
    * scoring run reads the count buckets in place — no refit, no
    * re-tokenization of the reference, one tokenize of the candidates.
    * Must produce exactly x53's answer — the oracle IS x53's. */
  private val x54 = Q("x54_lm_score_store",
    (s, d) => {
      val docs = documents(s, d)
      graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
        "text", table = "x54_lm_model", buckets = 8)
      graft.ext.LmScore.scoreAgainstStore(docs, "doc_id", "text",
          "x54_lm_model")
        .orderBy("doc_id")
    },
    Some(lmScoreOracle))

  /** The model store GROWN INCREMENTALLY (the reference corpus grows
    * like every other store): the store is built from half the
    * reference (odd doc ids) and the other half lands as O(shard)
    * count DELTAS ([[graft.ext.LmScore.appendToModel]] — never a
    * refit), summed by (n, fp) in-bucket at score time. Integer count
    * addition is associative, so append-then-score must equal
    * refit-on-the-union byte for byte — the oracle is x53's, fitted on
    * the WHOLE reference in one pass. */
  private val x55 = Q("x55_lm_model_append",
    (s, d) => {
      val docs = documents(s, d)
      val ref = docs.filter(col("doc_id") % 10 =!= 0)
      graft.ext.LmScore.writeModelStore(ref.filter(col("doc_id") % 2 === 1),
        "text", table = "x55_lm_model", buckets = 8)
      graft.ext.LmScore.appendToModel(ref.filter(col("doc_id") % 2 === 0),
        "text", table = "x55_lm_model", buckets = 8)
      graft.ext.LmScore.scoreAgainstStore(docs, "doc_id", "text",
          "x55_lm_model")
        .orderBy("doc_id")
    },
    Some(lmScoreOracle))

  /** The PRODUCTION curation topology composed end to end
    * ([[graft.ext.CurationLoop.ingestShard]]): exact dedup → near-dup →
    * vector dedup → decontamination gate → LM quality gate, every stage
    * against its persisted store, two shards through the caller-driven
    * loop (shard 2 dedups against shard 1's survivors — the cross-batch
    * store growth of x51/x37/x46 composed across THREE stores at once).
    * Split: the %10 = 0 docs are the held-out benchmark (never
    * ingested); the remaining train docs seed the stores (%3 = 0) and
    * arrive as shards (%3 = 1, then %3 = 2) with their embeddings
    * joined by id. Stage recipes are x34's MinHash, x45's LCG IVF,
    * x52's 8-gram benchmark store, and x53's LM model (fitted on the
    * whole train side). The oracle replays the full cascade: per-stage
    * two-batch store growth, gates at contamination ≤ 0.5 and
    * lm_score ≥ 0.033 (no-transition docs pass — no evidence, no
    * drop). One row per shard doc: kept, the dropping stage, the dup
    * target, and the gate metrics where the doc reached them. */
  /** Seed the five x56 stores from the driver tables and run the
    * two-shard composed loop; returns the loop's output root. Shared
    * by x56 (per-doc verdicts) and x57 (funnel counts) — each
    * invocation rebuilds the stores from scratch (overwrite + ledger
    * reset), so the two checked queries stay independent. */
  private def runCurationLoop(s: org.apache.spark.sql.SparkSession,
                              d: String): String = {
      val docs = documents(s, d)
      val emb = embeddings(s, d)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val full = train
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val seed = full.filter(col("doc_id") % 3 === 0)
      ExactDedup.writeFingerprintStore(seed, "doc_id", "text",
        table = "x56_fp", buckets = 8)
      graft.ext.IncrementalDedup.writeSignatureStore(seed, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x56_sig",
        buckets = 8)
      graft.ext.VectorStore.writeVectorStore(
        seed.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        nCentroids = 16, dim = 64, seedOffset = 100000L,
        table = "x56_vec", buckets = 8)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x56_bench", buckets = 8)
      graft.ext.LmScore.writeModelStore(train, "text",
        table = "x56_model", buckets = 8)
      val root = java.nio.file.Files.createTempDirectory("graft-x56-").toString
      val stores = graft.ext.CurationLoop.Stores("x56_fp", "x56_sig",
        "x56_vec", "x56_bench", "x56_model", buckets = 8)
      val params = graft.ext.CurationLoop.Params(shingleN = 3,
        numHashes = 16, nBands = 4, minJaccard = 0.5, minCosine = 0.4,
        nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L,
        maxContamination = 0.5, minLmScore = 0.033)
      graft.ext.CurationLoop.ingestShard(full.filter(col("doc_id") % 3 === 1),
        0L, "doc_id", "text", "embedding", stores, params, root)
      // shard 2 carries a deterministic RE-CRAWL of part of the seed
      // corpus (ids + 100000, same content) — the operational case the
      // exact stage exists for: these must drop at 'exact' with dup_of
      // = the original, never reaching the expensive stages
      val shard2 = full.filter(col("doc_id") % 3 === 2)
        .unionByName(full
          .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
            col("embedding")))
      graft.ext.CurationLoop.ingestShard(shard2,
        1L, "doc_id", "text", "embedding", stores, params, root)
      root
  }

  /** The x56 cascade replay as a CTE prefix (everything up to the
    * per-doc `fin` relation), shared by x56's per-doc verdict oracle
    * and x57's funnel oracle — the two must read the SAME replayed
    * cascade or they could silently diverge. */
  private val curationCascadeSql = s"""WITH $tokSql,
-- ======== stage 1: exact dedup (two-batch store growth) ========
-- shard membership mirrors the Spark side's pre-loop embedding join
-- (full = train docs INNER JOIN embeddings ON vec_id = doc_id): at
-- scale factors where the embeddings table covers fewer ids than the
-- documents table, only embedded docs enter the loop
f AS MATERIALIZED (SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 10 <> 0
        AND doc_id IN (SELECT vec_id FROM embeddings)),
fs0 AS MATERIALIZED (SELECT fp, min(doc_id) AS cid FROM f WHERE doc_id % 3 = 0 GROUP BY fp),
e1 AS MATERIALIZED (SELECT f.doc_id, s.cid AS dup_of
       FROM f LEFT JOIN fs0 s ON f.fp = s.fp WHERE f.doc_id % 3 = 1),
fg1 AS MATERIALIZED (SELECT f.fp, min(f.doc_id) AS cid
        FROM f JOIN e1 ON e1.doc_id = f.doc_id
        WHERE e1.dup_of IS NULL GROUP BY f.fp),
fs1 AS MATERIALIZED (SELECT fp, min(cid) AS cid FROM (
          SELECT * FROM fs0 UNION ALL SELECT * FROM fg1) GROUP BY fp),
b2 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 3 = 2
       UNION ALL
       SELECT doc_id + 100000, fp FROM f
       WHERE doc_id % 3 = 0 AND doc_id % 5 = 0),
e2 AS MATERIALIZED (SELECT b2.doc_id, s.cid AS dup_of
       FROM b2 LEFT JOIN fs1 s ON b2.fp = s.fp),
ever AS MATERIALIZED (SELECT doc_id, dup_of, 0 AS b FROM e1
         UNION ALL SELECT doc_id, dup_of, 1 AS b FROM e2),
-- ======== stage 2: MinHash near-dup (x34 recipe, two-batch growth) ========
sh AS MATERIALIZED (SELECT doc_id,
         list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
       FROM toks WHERE len(w) >= 3),
hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
         CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
       FROM sh),
sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
          list_min(list_transform(hh, h ->
            (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
              + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
        FROM hs),
bands AS MATERIALIZED (SELECT doc_id, b AS bb,
            CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
              ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
          FROM sig, (SELECT unnest(range(0,4)) AS b)),
nb0 AS MATERIALIZED (SELECT doc_id, bb, bk FROM bands
        WHERE doc_id % 10 <> 0 AND doc_id % 3 = 0
          AND doc_id IN (SELECT vec_id FROM embeddings)),
n1in AS MATERIALIZED (SELECT doc_id FROM ever WHERE b = 0 AND dup_of IS NULL),
n1 AS MATERIALIZED (SELECT i.doc_id, a.dup_of FROM n1in i LEFT JOIN (
         SELECT new_id, min(store_id) AS dup_of FROM (
           SELECT DISTINCT bnd.doc_id AS new_id, st.doc_id AS store_id
           FROM bands bnd JOIN n1in s1 ON s1.doc_id = bnd.doc_id
           JOIN nb0 st ON bnd.bb = st.bb AND bnd.bk = st.bk) p
         JOIN sig sa ON sa.doc_id = p.new_id
         JOIN sig sb ON sb.doc_id = p.store_id
         WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8
         GROUP BY new_id) a ON a.new_id = i.doc_id),
nb1 AS MATERIALIZED (SELECT * FROM nb0
        UNION ALL
        SELECT bnd.doc_id, bnd.bb, bnd.bk FROM bands bnd
        JOIN n1 ON n1.doc_id = bnd.doc_id WHERE n1.dup_of IS NULL),
n2in AS MATERIALIZED (SELECT doc_id FROM ever WHERE b = 1 AND dup_of IS NULL),
n2 AS MATERIALIZED (SELECT i.doc_id, a.dup_of FROM n2in i LEFT JOIN (
         SELECT new_id, min(store_id) AS dup_of FROM (
           SELECT DISTINCT bnd.doc_id AS new_id, st.doc_id AS store_id
           FROM bands bnd JOIN n2in s2 ON s2.doc_id = bnd.doc_id
           JOIN nb1 st ON bnd.bb = st.bb AND bnd.bk = st.bk) p
         JOIN sig sa ON sa.doc_id = p.new_id
         JOIN sig sb ON sb.doc_id = p.store_id
         WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8
         GROUP BY new_id) a ON a.new_id = i.doc_id),
nver AS MATERIALIZED (SELECT doc_id, dup_of, 0 AS b FROM n1
         UNION ALL SELECT doc_id, dup_of, 1 AS b FROM n2),
-- ======== stage 3: LCG-IVF vector dedup (x45 recipe, two-batch growth) ========
sc AS MATERIALIZED (SELECT vec_id, embedding,
         list_transform(range(0,16), kk ->
           list_sum(list_transform(list_zip(embedding, range(0,64)),
             x -> CAST(x[1] AS DOUBLE) *
                  (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                   / 2147483648.0 * 2 - 1)))
           / sqrt(list_sum(list_transform(range(0,64), j ->
               (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                / 2147483648.0 * 2 - 1)
               * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                  / 2147483648.0 * 2 - 1))))) AS scores
       FROM embeddings),
va0 AS MATERIALIZED (SELECT vec_id, embedding,
          CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS cell
        FROM sc WHERE vec_id % 10 <> 0 AND vec_id % 3 = 0),
v1in AS MATERIALIZED (SELECT doc_id FROM nver WHERE b = 0 AND dup_of IS NULL),
p1 AS MATERIALIZED (SELECT new_id, qe, cell FROM (
         SELECT s.vec_id AS new_id, s.embedding AS qe, CAST(j AS INT) AS cell,
                row_number() OVER (PARTITION BY s.vec_id
                  ORDER BY s.scores[j+1] DESC, j) AS pr
         FROM sc s JOIN v1in ON v1in.doc_id = s.vec_id,
              (SELECT unnest(range(0,16)) AS j))
       WHERE pr <= 4),
v1 AS MATERIALIZED (SELECT i.doc_id, a.dup_of FROM v1in i LEFT JOIN (
         SELECT new_id, min(store_id) AS dup_of FROM (
           SELECT p.new_id, a0.vec_id AS store_id
           FROM p1 p JOIN va0 a0 ON a0.cell = p.cell AND a0.vec_id <> p.new_id
           WHERE list_sum(list_transform(list_zip(p.qe, a0.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(a0.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                 >= 0.4) GROUP BY new_id) a ON a.new_id = i.doc_id),
va1 AS MATERIALIZED (SELECT * FROM va0
        UNION ALL
        SELECT s.vec_id, s.embedding,
               CAST(list_position(s.scores, list_max(s.scores)) - 1 AS INT) AS cell
        FROM sc s JOIN v1 ON v1.doc_id = s.vec_id WHERE v1.dup_of IS NULL),
v2in AS MATERIALIZED (SELECT doc_id FROM nver WHERE b = 1 AND dup_of IS NULL),
p2 AS MATERIALIZED (SELECT new_id, qe, cell FROM (
         SELECT s.vec_id AS new_id, s.embedding AS qe, CAST(j AS INT) AS cell,
                row_number() OVER (PARTITION BY s.vec_id
                  ORDER BY s.scores[j+1] DESC, j) AS pr
         FROM sc s JOIN v2in ON v2in.doc_id = s.vec_id,
              (SELECT unnest(range(0,16)) AS j))
       WHERE pr <= 4),
v2 AS MATERIALIZED (SELECT i.doc_id, a.dup_of FROM v2in i LEFT JOIN (
         SELECT new_id, min(store_id) AS dup_of FROM (
           SELECT p.new_id, a1.vec_id AS store_id
           FROM p2 p JOIN va1 a1 ON a1.cell = p.cell AND a1.vec_id <> p.new_id
           WHERE list_sum(list_transform(list_zip(p.qe, a1.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(a1.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                 >= 0.4) GROUP BY new_id) a ON a.new_id = i.doc_id),
vver AS MATERIALIZED (SELECT doc_id, dup_of, 0 AS b FROM v1
         UNION ALL SELECT doc_id, dup_of, 1 AS b FROM v2),
-- ======== stage 4: decontamination gate (x52 recipe, read-only) ========
s4in AS MATERIALIZED (SELECT doc_id FROM vver WHERE dup_of IS NULL),
g AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
         i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
      FROM toks WHERE len(w) >= 8),
dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM g),
evg AS MATERIALIZED (SELECT DISTINCT gram_fp FROM g WHERE doc_id % 10 = 0),
tr4 AS MATERIALIZED (SELECT dg.doc_id, dg.gram_fp FROM dg JOIN s4in ON s4in.doc_id = dg.doc_id),
tot4 AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM tr4 GROUP BY 1),
sh4 AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM tr4 JOIN evg USING (gram_fp) GROUP BY 1),
cont AS MATERIALIZED (SELECT t.doc_id,
           CAST(COALESCE(s.n_shared, 0) AS DOUBLE) / t.n_grams AS cont
         FROM tot4 t LEFT JOIN sh4 s ON s.doc_id = t.doc_id),
-- ======== stage 5: LM quality gate (x53 recipe, read-only) ========
s5in AS MATERIALIZED (SELECT i.doc_id FROM s4in i LEFT JOIN cont c ON c.doc_id = i.doc_id
         WHERE COALESCE(c.cont, 0.0) <= 0.5),
pairs AS MATERIALIZED (SELECT doc_id, u.pr.uf AS uni_fp, u.pr.bf AS bi_fp
          FROM toks, unnest(list_transform(generate_series(1, len(w)-1),
            i -> {'uf': CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT),
                  'bf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
          WHERE len(w) >= 2),
c1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
         SELECT unnest(list_transform(generate_series(1, len(w)),
           i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
         FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 1)
       GROUP BY fp),
c2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
         SELECT unnest(list_transform(generate_series(1, len(w)-1),
           i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
         FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 2)
       GROUP BY fp),
lmsc AS MATERIALIZED (SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(floor(COALESCE(CAST(c2.c AS DOUBLE) / CAST(c1.c AS DOUBLE), 0.0)
                               * 1073741824.0) AS BIGINT)) AS BIGINT) AS p_sum_q
         FROM pairs p
         JOIN s5in ON s5in.doc_id = p.doc_id
         LEFT JOIN c2 ON p.bi_fp = c2.fp
         LEFT JOIN c1 ON p.uni_fp = c1.fp
         GROUP BY p.doc_id),
lm AS MATERIALIZED (SELECT i.doc_id, COALESCE(s.n_bigrams, 0) AS nb,
         CAST(s.p_sum_q AS DOUBLE) / 1073741824.0
           / CAST(s.n_bigrams AS DOUBLE) AS lm_score
       FROM s5in i LEFT JOIN lmsc s ON s.doc_id = i.doc_id),
-- ======== final verdict rows ========
fin AS MATERIALIZED (SELECT e.doc_id, e.b,
          e.dup_of AS e_dup, n.dup_of AS n_dup, v.dup_of AS v_dup,
          (v.doc_id IS NOT NULL AND v.dup_of IS NULL) AS reached4,
          c.cont, (s5.doc_id IS NOT NULL) AS reached5,
          l.nb, l.lm_score
        FROM ever e
        LEFT JOIN nver n ON n.doc_id = e.doc_id
        LEFT JOIN vver v ON v.doc_id = e.doc_id
        LEFT JOIN cont c ON c.doc_id = e.doc_id
        LEFT JOIN s5in s5 ON s5.doc_id = e.doc_id
        LEFT JOIN lm l ON l.doc_id = e.doc_id)"""

  private val x56 = Q("x56_curation_loop",
    (s, d) => {
      val root = runCurationLoop(s, d)
      s.read.parquet(s"$root/verdicts")
        .select(col("doc_id"), col("kept"), col("dropped_at"),
          col("dup_of"), col("contamination"), col("lm_score"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy("doc_id")
    },
    Some(s"""$curationCascadeSql
SELECT doc_id,
       (CASE WHEN e_dup IS NOT NULL THEN 'exact'
             WHEN n_dup IS NOT NULL THEN 'neardup'
             WHEN v_dup IS NOT NULL THEN 'vector'
             WHEN reached4 AND COALESCE(cont, 0.0) > 0.5 THEN 'decontam'
             WHEN reached5 AND nb > 0 AND lm_score < 0.033 THEN 'lm'
        END) IS NULL AS kept,
       CASE WHEN e_dup IS NOT NULL THEN 'exact'
            WHEN n_dup IS NOT NULL THEN 'neardup'
            WHEN v_dup IS NOT NULL THEN 'vector'
            WHEN reached4 AND COALESCE(cont, 0.0) > 0.5 THEN 'decontam'
            WHEN reached5 AND nb > 0 AND lm_score < 0.033 THEN 'lm'
       END AS dropped_at,
       COALESCE(e_dup, n_dup, v_dup) AS dup_of,
       CASE WHEN reached4 THEN COALESCE(cont, 0.0) END AS contamination,
       CASE WHEN reached5 THEN lm_score END AS lm_score,
       CAST(b AS BIGINT) AS batch_id
FROM fin
ORDER BY doc_id"""))

  /** The loop's SECOND artifact oracle-checked: the per-batch funnel
    * counts [[graft.ext.CurationLoop.ingestShard]] writes (docs
    * surviving after each stage — the numbers a curation run
    * publishes). Same cascade replay as x56, aggregated per batch —
    * this checks the funnel WRITER (the loop's own rollup), which
    * x56's per-doc hash cannot see. */
  private val x57 = Q("x57_curation_funnel",
    (s, d) => {
      val root = runCurationLoop(s, d)
      s.read.parquet(s"$root/funnel")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("n_docs"), col("n_after_exact"), col("n_after_neardup"),
          col("n_after_vector"), col("n_after_decontam"), col("n_kept"))
        .orderBy("batch_id")
    },
    Some(s"""$curationCascadeSql
SELECT CAST(b AS BIGINT) AS batch_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE e_dup IS NULL) AS BIGINT) AS n_after_exact,
       CAST(count(*) FILTER (WHERE e_dup IS NULL AND n_dup IS NULL) AS BIGINT) AS n_after_neardup,
       CAST(count(*) FILTER (WHERE reached4) AS BIGINT) AS n_after_vector,
       CAST(count(*) FILTER (WHERE reached5) AS BIGINT) AS n_after_decontam,
       CAST(count(*) FILTER (WHERE reached5 AND NOT (nb > 0 AND lm_score < 0.033)) AS BIGINT) AS n_kept
FROM fin GROUP BY b ORDER BY batch_id"""))

  /** DSIR-style domain-targeted selection
    * ([[graft.ext.LmScore.dsirAgainstStores]] — Xie et al.'s
    * data-selection pattern): a TARGET bigram model (the English split)
    * and a SOURCE/background model (everything else) land as two
    * persisted stores, and every document scores against BOTH in one
    * tokenization pass — importance = the mean transition-probability
    * margin (the published log-likelihood ratio replaced by a
    * probability margin so the score stays quantized-integer exact; the
    * `selected` verdict is the exact integer comparison
    * `t_sum_q > s_sum_q`). Docs with no transitions get a null verdict
    * (no evidence either way). The oracle replays both models and the
    * identical divide/quantize/sum arithmetic. */
  /** The x58 DSIR two-model scoring replay (everything up to the
    * per-doc `agg` relation), shared by x58's verdict oracle and x70's
    * DSIR-driven mixture oracle — the curationCascadeSql convention:
    * one replay, two checked consumers. */
  private val dsirAggSql = s"""$tokSql,
             tokl AS MATERIALIZED (SELECT t.doc_id, t.w, d.lang
                      FROM toks t JOIN documents d USING (doc_id)),
             pairs AS MATERIALIZED (SELECT doc_id, u.pr.uf AS uni_fp, u.pr.bf AS bi_fp
                       FROM toks, unnest(list_transform(generate_series(1, len(w)-1),
                         i -> {'uf': CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT),
                               'bf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
                       WHERE len(w) >= 2),
             tc1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)),
                         i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM tokl WHERE lang = 'en' AND len(w) >= 1)
                     GROUP BY fp),
             tc2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)-1),
                         i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM tokl WHERE lang = 'en' AND len(w) >= 2)
                     GROUP BY fp),
             sc1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)),
                         i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM tokl WHERE lang <> 'en' AND len(w) >= 1)
                     GROUP BY fp),
             sc2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)-1),
                         i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM tokl WHERE lang <> 'en' AND len(w) >= 2)
                     GROUP BY fp),
             agg AS MATERIALIZED (SELECT p.doc_id,
                       CAST(count(*) AS BIGINT) AS n_bigrams,
                       CAST(sum(CAST(floor(COALESCE(CAST(t2.c AS DOUBLE) / CAST(t1.c AS DOUBLE), 0.0)
                                           * 1073741824.0) AS BIGINT)) AS BIGINT) AS t_sum_q,
                       CAST(sum(CAST(floor(COALESCE(CAST(s2.c AS DOUBLE) / CAST(s1.c AS DOUBLE), 0.0)
                                           * 1073741824.0) AS BIGINT)) AS BIGINT) AS s_sum_q
                     FROM pairs p
                     LEFT JOIN tc2 t2 ON p.bi_fp = t2.fp
                     LEFT JOIN tc1 t1 ON p.uni_fp = t1.fp
                     LEFT JOIN sc2 s2 ON p.bi_fp = s2.fp
                     LEFT JOIN sc1 s1 ON p.uni_fp = s1.fp
                     GROUP BY p.doc_id)"""

  private val x58 = Q("x58_dsir_selection",
    (s, d) => {
      val docs = documents(s, d)
      // independent target/source model builds — overlap them (§2.6)
      graft.core.Bucketing.inParallel(
        graft.ext.LmScore.writeModelStore(docs.filter(col("lang") === "en"),
          "text", table = "x58_target", buckets = 8),
        graft.ext.LmScore.writeModelStore(docs.filter(col("lang") =!= "en"),
          "text", table = "x58_source", buckets = 8))
      graft.ext.LmScore.dsirAgainstStores(docs, "doc_id", "text",
          "x58_target", "x58_source")
        .orderBy("doc_id")
    },
    Some(s"""WITH $dsirAggSql
            SELECT d.doc_id,
                   COALESCE(a.n_bigrams, 0) AS n_bigrams,
                   a.t_sum_q, a.s_sum_q,
                   CAST(a.t_sum_q - a.s_sum_q AS DOUBLE) / 1073741824.0
                     / CAST(a.n_bigrams AS DOUBLE) AS dsir_margin,
                   CASE WHEN COALESCE(a.n_bigrams, 0) > 0
                        THEN a.t_sum_q > a.s_sum_q END AS selected
            FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** Per-SOURCE quality-quantile gate
    * ([[graft.ext.Curation.topFractionPerGroup]] over the x53 LM
    * scores): each `source` keeps its own top half by lm_score — the
    * per-domain selection the published recipes use instead of one
    * global threshold. `cume_dist` arithmetic is (rows ≤ current)/n in
    * both engines — singleton domains keep their row, tie groups keep
    * or drop WHOLE — and null-scored docs bypass the window entirely,
    * so the verdicts hash exactly. */
  private val x59 = Q("x59_source_quality_gate",
    (s, d) => {
      val docs = documents(s, d)
      val model = graft.ext.LmScore.fit(docs.filter(col("doc_id") % 10 =!= 0),
        "text").localCheckpoint(true)
      val scored = graft.ext.LmScore.score(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lm_score"))
      graft.ext.Curation.topFractionPerGroup(scored, "source", "lm_score",
          fraction = 0.5)
        .orderBy("doc_id")
    },
    Some(s"""$lmCascadeSql,
             base AS MATERIALIZED (SELECT d.doc_id, d.source,
                        CAST(sc.p_sum_q AS DOUBLE) / 1073741824.0
                          / CAST(sc.n_bigrams AS DOUBLE) AS lm_score
                      FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
             ranked AS MATERIALIZED (SELECT doc_id, source, lm_score,
                          cume_dist() OVER (PARTITION BY source
                            ORDER BY lm_score) AS cume_dist
                        FROM base WHERE lm_score IS NOT NULL)
            SELECT doc_id, source, lm_score, cume_dist,
                   (cume_dist > 0.5) AS kept
            FROM ranked
            UNION ALL
            SELECT doc_id, source, lm_score,
                   CAST(NULL AS DOUBLE) AS cume_dist,
                   CAST(NULL AS BOOLEAN) AS kept
            FROM base WHERE lm_score IS NULL
            ORDER BY doc_id"""))

  /** Token-budget mixture materialization
    * ([[graft.ext.Mixing.materializeMixture]] — the UPSAMPLING-capable
    * "epochs per domain" step of Gopher/DoReMi-style recipes, the
    * production successor of x29's downsample-only uniform rates):
    * target weights en 0.6 / zh 0.25 / fr 0.15 over a budget of 3× the
    * corpus' total tokens, so en repeats > 1× (multiple epochs, full
    * copies + a deterministic hash-Bernoulli fractional copy), zh/fr
    * land fractional, and de/es are excluded (weight 0). The factor
    * table is stratum-cardinality and joins BROADCAST; copy generation
    * is a narrow `explode(sequence)` over the scan — the corpus is
    * never shuffled. The oracle replays the factor arithmetic (one
    * double multiply + divide of exact int64 counts) and the
    * md5-bucket fractional draw bit-exactly. */
  private val x60 = Q("x60_mixture_materialize",
    (s, d) => {
      val docs = documents(s, d)
      // O(1) driver scalar (the q05 surrogate-max convention): the
      // budget is an absolute token count in production; here it is
      // pinned to 3x the corpus total so the mixture exercises both
      // up- and downsampling at every scale factor
      val total = docs.agg(
        sum(coalesce(size(graft.ext.Ngrams.normTokens(col("text")))
          .cast("long"), lit(0L)))).head.getLong(0)
      Mixing.materializeMixture(docs, "lang", "doc_id", "text",
          Map("en" -> 0.6, "zh" -> 0.25, "fr" -> 0.15),
          budgetTokens = 3L * total)
        .select(col("doc_id"), col("lang"), col("copy_idx"), col("n_copies"))
        .orderBy("doc_id", "copy_idx")
    },
    Some("""WITH tok AS MATERIALIZED (SELECT doc_id, lang,
                    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS nt
                  FROM documents),
             b AS MATERIALIZED (SELECT 3 * CAST(sum(nt) AS BIGINT) AS budget FROM tok),
             s AS MATERIALIZED (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
             f AS MATERIALIZED (SELECT lang,
                     CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE CAST((SELECT budget FROM b) AS DOUBLE)
                               * (CASE lang WHEN 'en' THEN 0.6 WHEN 'fr' THEN 0.15
                                            WHEN 'zh' THEN 0.25 ELSE 0.0 END)
                               / n_tokens END AS factor
                   FROM s),
             d AS MATERIALIZED (SELECT t.doc_id, t.lang,
                     CAST(floor(f.factor) AS BIGINT) AS full_copies,
                     CAST(floor(f.factor * 10000.0) AS BIGINT)
                       - CAST(floor(f.factor) AS BIGINT) * 10000 AS thr
                   FROM tok t JOIN f USING (lang)),
             c AS MATERIALIZED (SELECT doc_id, lang,
                     full_copies + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < thr
                                         THEN 1 ELSE 0 END) AS n_copies
                   FROM d)
            SELECT doc_id, lang, copy_idx, n_copies FROM (
              SELECT doc_id, lang,
                     CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx,
                     CAST(n_copies AS BIGINT) AS n_copies
              FROM c WHERE n_copies > 0)
            ORDER BY doc_id, copy_idx"""))

  /** Gopher/C4-style heuristic rule gate ([[graft.ext.RuleGate]]): six
    * published-band per-document signals (word-count bounds, mean word
    * length bounds, minimum stopword hits, maximum top-word share,
    * maximum symbol-to-word ratio, minimum alphabetic-word fraction),
    * each as its own flag plus the `keep` conjunction — the cheap
    * rule-bundle stage that precedes model-based scoring in every
    * published pipeline. One narrow per-row projection, token array
    * projected once, no shuffle; every ratio is a single double
    * division of exact int64 counts, bit-exact in the oracle. */
  private val x61 = Q("x61_gopher_rule_gate",
    (s, d) => graft.ext.RuleGate.flags(documents(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH t AS MATERIALIZED (SELECT doc_id, text,
                    regexp_extract_all(lower(trim(text)), '\S+') AS toks
                  FROM documents),
             f AS MATERIALIZED (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                     END AS mean_word_len,
                     CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS BIGINT) AS stop_hits,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(list_max(list_transform(list_distinct(toks),
                                 w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / len(toks)
                     END AS top_word_share,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(CAST((length(text) - length(replace(text, '#', ''))) / 1 AS BIGINT)
                                    + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS DOUBLE) / len(toks)
                     END AS symbol_ratio,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks)
                     END AS alpha_word_ratio
                   FROM t)
            SELECT doc_id, n_words, mean_word_len, stop_hits, top_word_share,
                   symbol_ratio, alpha_word_ratio,
                   (n_words >= 20 AND n_words <= 80) AS ok_words,
                   (mean_word_len >= 4.0 AND mean_word_len <= 5.0) AS ok_word_len,
                   (stop_hits >= 2) AS ok_stop,
                   (top_word_share <= 0.2) AS ok_top_word,
                   (symbol_ratio <= 0.1) AS ok_symbols,
                   (alpha_word_ratio >= 0.8) AS ok_alpha,
                   (n_words >= 20 AND n_words <= 80
                    AND mean_word_len >= 4.0 AND mean_word_len <= 5.0
                    AND stop_hits >= 2 AND top_word_share <= 0.2
                    AND symbol_ratio <= 0.1 AND alpha_word_ratio >= 0.8) AS keep
            FROM f ORDER BY doc_id"""))

  /** Per-source corpus data card ([[graft.ext.DataCard.perSource]] —
    * the datasheet table a corpus release publishes): per source, doc
    * and exact token counts, language spread, the dominant language
    * (count desc / lang asc tie-break in both engines) with its share,
    * the CORPUS-WIDE exact-duplicate rate (fp counts joined back — the
    * one corpus-keyed shuffle pair, 16-byte fps on the wire), and the
    * mean x03 quality score, summed as floor(score·2²⁰) int64 so the
    * only cross-row float reduction is order-free (the x53 quantizer
    * pattern) and the mean divides back to double bit-exactly. */
  private val x62 = Q("x62_data_card",
    (s, d) => graft.ext.DataCard.perSource(documents(s, d),
        "doc_id", "text", "lang", "source")
      .orderBy("source"),
    Some("""WITH f AS MATERIALIZED (SELECT doc_id, lang, source,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                    CAST(length(text) AS BIGINT) AS nc,
                    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
                    CASE WHEN length(text) = 0 THEN 0.0
                         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
                    END AS digit_ratio,
                    CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                              / len(regexp_extract_all(lower(text), '[a-z]+'))
                    END AS stop_ratio
                  FROM documents),
             q AS MATERIALIZED (SELECT *, CASE WHEN nt = 0 THEN 0.0
                     ELSE CAST(nc - nt + 1 AS DOUBLE) / nt END AS avg_len FROM f),
             sc AS MATERIALIZED (SELECT *,
                     CAST(floor((0.4 * stop_ratio + 0.3 * (least(avg_len, 10.0) / 10.0)
                                 + 0.3 * (1.0 - digit_ratio)) * 1048576.0) AS BIGINT) AS score_q
                   FROM q),
             fpn AS MATERIALIZED (SELECT fp, count(*) AS fp_n FROM sc GROUP BY 1),
             g AS MATERIALIZED (SELECT sc.*, CASE WHEN fpn.fp_n > 1 THEN 1 ELSE 0 END AS is_dup
                   FROM sc JOIN fpn USING (fp)),
             roll AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(nt) AS BIGINT) AS n_tokens,
                        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                        CAST(sum(is_dup) AS BIGINT) AS n_dup,
                        CAST(sum(score_q) AS BIGINT) AS score_sum_q
                      FROM g GROUP BY 1),
             tl AS MATERIALIZED (SELECT source, lang AS top_lang, ln FROM (
                      SELECT source, lang, count(*) AS ln,
                             row_number() OVER (PARTITION BY source
                               ORDER BY count(*) DESC, lang ASC) AS rk
                      FROM g GROUP BY source, lang) WHERE rk = 1)
            SELECT r.source, r.n_docs, r.n_tokens, r.n_langs, t.top_lang,
                   CAST(t.ln AS DOUBLE) / r.n_docs AS top_lang_share,
                   CAST(r.n_dup AS DOUBLE) / r.n_docs AS dup_rate,
                   CAST(r.score_sum_q AS DOUBLE) / 1048576.0 / r.n_docs AS mean_quality
            FROM roll r JOIN tl t USING (source) ORDER BY source"""))

  /** Corpus release diff ([[graft.ext.ExactDedup.diffAgainstStore]]):
    * release 1 (doc_id % 3 ≠ 0) is persisted as the bucketed
    * fingerprint store; the current corpus (doc_id % 5 ≠ 1) then diffs
    * against it IN PLACE — one (fp, min id, count) row per current
    * content from a single map-side-combined groupBy, met by the store
    * in one full-outer sort-merge join whose store side reads its
    * buckets shuffle-free. Statuses: `added` / `removed` /
    * `retained` — the dataset-versioning audit a release publishes. */
  private val x63 = Q("x63_release_diff",
    (s, d) => {
      val docs = documents(s, d)
      ExactDedup.writeFingerprintStore(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", table = "x63_fp_store", buckets = 8)
      ExactDedup.diffAgainstStore(docs.filter(col("doc_id") % 5 =!= 1),
          "doc_id", "text", s.table("x63_fp_store"))
        .orderBy("fp")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                  FROM documents),
             store AS MATERIALIZED (SELECT fp, min(doc_id) AS prev_id
                       FROM f WHERE doc_id % 3 <> 0 GROUP BY fp),
             cur AS MATERIALIZED (SELECT fp, min(doc_id) AS cur_id,
                       CAST(count(*) AS BIGINT) AS n_docs
                     FROM f WHERE doc_id % 5 <> 1 GROUP BY fp)
            SELECT COALESCE(c.fp, st.fp) AS fp,
                   CASE WHEN st.prev_id IS NULL THEN 'added'
                        WHEN c.cur_id IS NULL THEN 'removed'
                        ELSE 'retained' END AS status,
                   COALESCE(c.n_docs, 0) AS n_docs,
                   st.prev_id, c.cur_id
            FROM cur c FULL OUTER JOIN store st ON c.fp = st.fp
            ORDER BY fp"""))

  /** In-document repetition removal
    * ([[graft.ext.PassageDedup.dedupWithinDoc]] — the C4 same-page
    * span cleanup at passage grain): repeated passages WITHIN one
    * document collapse to their first occurrence and the text
    * reassembles, all in one narrow per-row projection — the rare
    * corpus operator with NO shuffle at all (the plan pin). The
    * indexed-filter first-occurrence rule replays in DuckDB as
    * `list_position(prefix) = 0`. */
  private val x64 = Q("x64_indoc_repetition",
    (s, d) => PassageDedup.dedupWithinDoc(documents(s, d), "doc_id",
        "text", chunkTokens = 10)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             p AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) = 0 THEN ['']
                     ELSE list_transform(generate_series(0, CAST((len(w)-1)//10 AS INT)),
                            c -> array_to_string(w[c*10+1:c*10+10], ' ')) END AS ps
                   FROM toks),
             k AS MATERIALIZED (SELECT doc_id, ps,
                     list_filter(ps, (x, i) -> list_position(ps[1:i-1], x) = 0) AS kept
                   FROM p)
            SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_passages,
                   CAST(len(ps) - len(kept) AS BIGINT) AS n_repeated,
                   array_to_string(kept, ' ') AS text_kept
            FROM k ORDER BY doc_id"""))

  /** Corpus boilerplate removal
    * ([[graft.ext.PassageDedup.removeBoilerplate]] — the CCNet
    * cleanup): any passage appearing in ≥ 2 distinct documents is
    * boilerplate and EVERY occurrence drops (unlike x21's first-wins
    * dedup, nothing survives); the document-frequency count leg
    * prunes to 16-byte fps + doc ids and reduces map-side, and the
    * verdict comes back through one fp-keyed join before the x21-style
    * doc-keyed reassembly. */
  private val x65 = Q("x65_boilerplate_removal",
    (s, d) => PassageDedup.removeBoilerplate(documents(s, d), "doc_id",
        "text", chunkTokens = 10, minDocFreq = 2)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             p AS MATERIALIZED (SELECT doc_id, CASE WHEN len(w) = 0 THEN ['']
                     ELSE list_transform(generate_series(0, CAST((len(w)-1)//10 AS INT)),
                            c -> array_to_string(w[c*10+1:c*10+10], ' ')) END AS ps
                   FROM toks),
             e AS MATERIALIZED (SELECT doc_id, u.e.i AS idx, u.e.p AS passage
                   FROM p, unnest(list_transform(generate_series(1, len(ps)),
                          i -> {'i': i-1, 'p': ps[i]})) AS u(e)),
             f AS MATERIALIZED (SELECT md5(passage) AS fp, count(DISTINCT doc_id) AS df
                   FROM e GROUP BY 1),
             b AS MATERIALIZED (SELECT fp FROM f WHERE df >= 2),
             j AS MATERIALIZED (SELECT e.doc_id, e.idx, e.passage,
                     (b.fp IS NOT NULL) AS is_b
                   FROM e LEFT JOIN b ON md5(e.passage) = b.fp)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
                   CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                   coalesce(string_agg(CASE WHEN NOT is_b THEN passage END, ' ' ORDER BY idx), '') AS text_kept
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** The one-shot BATCH recipe composed end to end at FULL production
    * depth ([[graft.ext.Curation.batchRecipe]] — the static-corpus
    * counterpart of x56's incremental loop, sharing its five-stage
    * inventory): rule gate (x61) → boilerplate removal (x65, downstream
    * stages consume the CLEANED text) → exact dedup on the cleaned text
    * (x01) → MinHash near-dup, greedy by id (x08's pairs) → embedding
    * dedup in the loop's LCG-IVF top-1 cells (x45's quantizer, SemDedup
    * greedy keep rule) → decontamination against the x52-style
    * persisted benchmark store (the %10 split, 8-grams) → LM quality
    * served from the x54 persisted model store and gated per source at
    * the top half (x59's cume_dist shape; null-score docs pass) →
    * mixture materialization (x60). The checked output is the
    * materialized mixture itself — one row per (doc, copy) — so a
    * divergence at ANY stage shifts the final rows; the oracle replays
    * the entire chain as one CTE cascade. */
  /** The x66 recipe-cascade replay (corpus through the stage-7 LM
    * gate), shared by x66's mixture oracle and x75's funnel oracle —
    * the curationCascadeSql convention: one replay, two checked
    * consumers.
    *
    * Every CTE carries an explicit `AS MATERIALIZED` hint: DuckDB 1.0
    * INLINES a CTE at each reference site, and in a deep cascade where
    * stages are multi-referenced (s5 feeds both `cg` legs, `lmj` feeds
    * both `s7` branches, x66's tail reads `gt` twice) the duplication
    * compounds multiplicatively down the chain — measured 579.5 s
    * (x66) + 247.3 s (x75) at sf0.01, 94% of the round-17 oracle pass,
    * the round's empty-gate root cause. With the hints both oracles
    * answer in <1 s, bit-identically (re-checked through
    * tools/check_oracle.py). A pure planner hint: semantics unchanged. */
  private val recipeCascadePrefixSql = """WITH corpus AS MATERIALIZED (SELECT doc_id, lang, source, text FROM documents
                  UNION ALL
                  SELECT doc_id + 100000, lang, source, text
                  FROM documents WHERE doc_id % 7 = 0),
             t0 AS MATERIALIZED (SELECT doc_id, lang, source, text,
                    regexp_extract_all(lower(trim(text)), '\S+') AS toks
                  FROM corpus),
             rf AS MATERIALIZED (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                     END AS mwl,
                     CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS BIGINT) AS stp,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(list_max(list_transform(list_distinct(toks),
                                 w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / len(toks)
                     END AS tws,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(CAST((length(text) - length(replace(text, '#', ''))) / 1 AS BIGINT)
                                    + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS DOUBLE) / len(toks)
                     END AS smr,
                     CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks)
                     END AS awr
                   FROM t0),
             s1 AS MATERIALIZED (SELECT t0.* FROM t0 JOIN rf USING (doc_id)
                    WHERE rf.n_words >= 20 AND rf.n_words <= 80
                      AND rf.mwl >= 4.0 AND rf.mwl <= 5.0 AND rf.stp >= 2
                      AND rf.tws <= 0.2 AND rf.smr <= 0.1 AND rf.awr >= 0.8),
             p AS MATERIALIZED (SELECT doc_id, CASE WHEN len(toks) = 0 THEN ['']
                     ELSE list_transform(generate_series(0, CAST((len(toks)-1)//10 AS INT)),
                            c -> array_to_string(toks[c*10+1:c*10+10], ' ')) END AS ps
                   FROM s1),
             e AS MATERIALIZED (SELECT doc_id, u.e.i AS idx, u.e.p AS passage
                   FROM p, unnest(list_transform(generate_series(1, len(ps)),
                          i -> {'i': i-1, 'p': ps[i]})) AS u(e)),
             bfreq AS MATERIALIZED (SELECT md5(passage) AS fp, count(DISTINCT doc_id) AS df
                       FROM e GROUP BY 1),
             jb AS MATERIALIZED (SELECT e.doc_id, e.idx, e.passage, (b.fp IS NOT NULL) AS is_b
                    FROM e LEFT JOIN (SELECT fp FROM bfreq WHERE df >= 2) b
                      ON md5(e.passage) = b.fp),
             clean AS MATERIALIZED (SELECT doc_id,
                         coalesce(string_agg(CASE WHEN NOT is_b THEN passage END, ' ' ORDER BY idx), '') AS ctext
                       FROM jb GROUP BY doc_id),
             s2 AS MATERIALIZED (SELECT s1.doc_id, s1.lang, s1.source, clean.ctext
                    FROM s1 JOIN clean USING (doc_id)),
             canon AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM (
                         SELECT doc_id,
                           md5(regexp_replace(lower(trim(ctext)), '\s+', ' ', 'g')) AS fp
                         FROM s2) GROUP BY fp),
             s3 AS MATERIALIZED (SELECT s2.* FROM s2 JOIN canon USING (doc_id)),
             -- ==== stage 4: MinHash near-dup over the cleaned text (x08 recipe, greedy by id) ====
             w3 AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(ctext)), '\S+') AS w FROM s3),
             sh3 AS MATERIALIZED (SELECT doc_id,
                       list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                     FROM w3 WHERE len(w) >= 3),
             hs3 AS MATERIALIZED (SELECT doc_id, list_transform(sgl, sx ->
                       CAST(CAST('0x'||substr(md5(sx),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                     FROM sh3),
             sig3 AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                        list_min(list_transform(hh, h ->
                          (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                            + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                      FROM hs3),
             bands3 AS MATERIALIZED (SELECT doc_id, b AS bb,
                          CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                            ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                        FROM sig3, (SELECT unnest(range(0,4)) AS b)),
             nd AS MATERIALIZED (SELECT DISTINCT pr.idb AS doc_id FROM (
                      SELECT DISTINCT ba.doc_id AS ida, bb2.doc_id AS idb
                      FROM bands3 ba JOIN bands3 bb2
                        ON ba.bb = bb2.bb AND ba.bk = bb2.bk
                      WHERE ba.doc_id < bb2.doc_id) pr
                    JOIN sig3 sa ON sa.doc_id = pr.ida
                    JOIN sig3 sb ON sb.doc_id = pr.idb
                    WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
             s4 AS MATERIALIZED (SELECT s3.* FROM s3 WHERE s3.doc_id NOT IN (SELECT doc_id FROM nd)),
             -- ==== stage 5: embedding dedup in LCG-IVF top-1 cells (x45 quantizer, greedy by id) ====
             vsc AS MATERIALIZED (SELECT vec_id, embedding,
                       list_transform(range(0,16), kk ->
                         list_sum(list_transform(list_zip(embedding, range(0,64)),
                           x -> CAST(x[1] AS DOUBLE) *
                                (CAST((1103515245*(100000 + kk*64 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                                 / 2147483648.0 * 2 - 1)))
                         / sqrt(list_sum(list_transform(range(0,64), j ->
                             (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                              / 2147483648.0 * 2 - 1)
                             * (CAST((1103515245*(100000 + kk*64 + j) + 12345) % 2147483648 AS DOUBLE)
                                / 2147483648.0 * 2 - 1))))) AS scores
                     FROM embeddings),
             va AS MATERIALIZED (SELECT v.vec_id AS doc_id, v.embedding,
                      CAST(list_position(v.scores, list_max(v.scores)) - 1 AS INT) AS cell
                    FROM vsc v JOIN s4 ON s4.doc_id = v.vec_id),
             vd AS MATERIALIZED (SELECT DISTINCT vb.doc_id FROM va AS vaa JOIN va AS vb
                      ON vaa.cell = vb.cell AND vaa.doc_id < vb.doc_id
                    WHERE list_sum(list_transform(list_zip(vaa.embedding, vb.embedding),
                            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                          / (sqrt(list_sum(list_transform(vaa.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                           * sqrt(list_sum(list_transform(vb.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))
                          >= 0.4),
             s5 AS MATERIALIZED (SELECT s4.* FROM s4 WHERE s4.doc_id NOT IN (SELECT doc_id FROM vd)),
             -- ==== stage 6: decontamination vs the %10 benchmark store (x52 recipe, 8-grams of cleaned text) ====
             bw AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w
                    FROM documents WHERE doc_id % 10 = 0),
             evg AS MATERIALIZED (SELECT DISTINCT gram_fp FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)-7),
                         i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                       FROM bw WHERE len(w) >= 8)),
             w5 AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(ctext)), '\S+') AS w FROM s5),
             cg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM (
                      SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
                        i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                      FROM w5 WHERE len(w) >= 8)),
             ctot AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cg GROUP BY 1),
             cshr AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
                      FROM cg JOIN evg USING (gram_fp) GROUP BY 1),
             s6 AS MATERIALIZED (SELECT s5.* FROM s5
                    LEFT JOIN ctot tt ON tt.doc_id = s5.doc_id
                    LEFT JOIN cshr sh ON sh.doc_id = s5.doc_id
                    WHERE COALESCE(CAST(sh.n_shared AS DOUBLE) / tt.n_grams, 0.0) <= 0.3)"""

  /** Stage 7 under the DEFAULT quality seam (LM top-fraction — x66/x75):
    * the %10-trained store's scores, per-source top half. x90 swaps in
    * [[recipeClassifierTailSql]] instead — same prefix, same mixture
    * tail, so the three recipe oracles share every other stage. */
  private val recipeLmTailSql = """
             -- ==== stage 7: LM quality from the %10-trained store, per-source top half (x54 + x59) ====
             lc1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)),
                         i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM (SELECT regexp_extract_all(lower(trim(text)), '\S+') AS w
                             FROM documents WHERE doc_id % 10 <> 0)
                       WHERE len(w) >= 1)
                     GROUP BY fp),
             lc2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                       SELECT unnest(list_transform(generate_series(1, len(w)-1),
                         i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                       FROM (SELECT regexp_extract_all(lower(trim(text)), '\S+') AS w
                             FROM documents WHERE doc_id % 10 <> 0)
                       WHERE len(w) >= 2)
                     GROUP BY fp),
             w6 AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(ctext)), '\S+') AS w FROM s6),
             pr7 AS MATERIALIZED (SELECT doc_id, u.pr.uf AS uni_fp, u.pr.bf AS bi_fp
                     FROM w6, unnest(list_transform(generate_series(1, len(w)-1),
                       i -> {'uf': CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT),
                             'bf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
                     WHERE len(w) >= 2),
             lmsc AS MATERIALIZED (SELECT p7.doc_id,
                        CAST(count(*) AS BIGINT) AS nb,
                        CAST(sum(CAST(floor(COALESCE(CAST(lc2.c AS DOUBLE) / CAST(lc1.c AS DOUBLE), 0.0)
                                            * 1073741824.0) AS BIGINT)) AS BIGINT) AS psq
                      FROM pr7 p7
                      LEFT JOIN lc2 ON p7.bi_fp = lc2.fp
                      LEFT JOIN lc1 ON p7.uni_fp = lc1.fp
                      GROUP BY p7.doc_id),
             lmj AS MATERIALIZED (SELECT s6.doc_id, s6.lang, s6.source, s6.ctext,
                       CAST(l.psq AS DOUBLE) / 1073741824.0 / CAST(l.nb AS DOUBLE) AS lm_score
                     FROM s6 LEFT JOIN lmsc l ON l.doc_id = s6.doc_id),
             s7 AS MATERIALIZED (SELECT doc_id, lang, source, ctext FROM (
                      SELECT *, cume_dist() OVER (PARTITION BY source ORDER BY lm_score) AS cd
                      FROM lmj WHERE lm_score IS NOT NULL) WHERE cd > 0.5
                    UNION ALL
                    SELECT doc_id, lang, source, ctext FROM lmj WHERE lm_score IS NULL)"""

  private val recipeCascadeSql =
    recipeCascadePrefixSql + "," + recipeLmTailSql

  /** Shared x66/x75 setup (rebuilt per invocation — the runCurationLoop
    * convention, so the two checked queries stay independent): the
    * re-crawl-twinned corpus, the embedding relation, and the %10
    * benchmark + LM model stores. ONE definition plus ONE parameter set
    * below, so the mixture check and the funnel check can never run
    * different recipes. */
  private def recipeSetup(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = documents(s, d)
    val emb = embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // the corpus carries a deterministic RE-CRAWL of a slice of itself
    // (ids + 100000, same content — the x56 operational case): the
    // twins sail through the rule gate, clean identically, and must
    // drop at the exact stage, so stage 3 provably bites
    val corpus = docs
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("lang"),
          col("source"), col("text")))
    // the two stores are INDEPENDENT side effects into separate tables:
    // build them as two concurrent driver-thread jobs so the second
    // build's tasks back-fill the executor slots the first one's tail
    // leaves idle (guide §2.6 — actions are only sequential because the
    // driver calls them sequentially). Contents are deterministic
    // either way.
    graft.core.Bucketing.inParallel(
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x66_bench", buckets = 8),
      graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
        "text", table = "x66_model", buckets = 8))
    (corpus, emb)
  }

  private val recipeParams = Curation.RecipeParams(graft.ext.RuleGate.Rules(),
    chunkTokens = 10, minDocFreq = 2,
    shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
    nCentroids = 16, dim = 64, seedOffset = 100000L,
    minCosine = 0.4, maxContamination = 0.3, keepFraction = 0.5,
    weights = Map("en" -> 0.6, "fr" -> 0.25, "de" -> 0.15),
    budgetTokens = 20000L)

  /** The recipe's stage-8 mixture tail over whatever `s7` the chosen
    * quality seam produced — shared verbatim by x66 (LM seam) and x90
    * (classifier seam), so the two configurations' oracles can only
    * differ at stage 7. */
  private val recipeMixtureTailSql = """
             gt AS MATERIALIZED (SELECT doc_id, lang, source,
                      CAST(len(regexp_extract_all(lower(trim(ctext)), '\S+')) AS BIGINT) AS nt
                    FROM s7),
             st AS MATERIALIZED (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens FROM gt GROUP BY 1),
             fct AS MATERIALIZED (SELECT lang,
                      CASE WHEN n_tokens = 0 THEN 0.0
                           ELSE CAST(20000 AS DOUBLE)
                                * (CASE lang WHEN 'de' THEN 0.15 WHEN 'en' THEN 0.6
                                             WHEN 'fr' THEN 0.25 ELSE 0.0 END)
                                / n_tokens END AS factor
                     FROM st),
             dd AS MATERIALIZED (SELECT gt.doc_id, gt.lang, gt.source,
                      CAST(floor(fct.factor) AS BIGINT) AS full_copies,
                      CAST(floor(fct.factor * 10000.0) AS BIGINT)
                        - CAST(floor(fct.factor) AS BIGINT) * 10000 AS thr
                    FROM gt JOIN fct USING (lang)),
             cc AS MATERIALIZED (SELECT doc_id, lang, source,
                      full_copies + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < thr
                                          THEN 1 ELSE 0 END) AS n_copies
                    FROM dd)
            SELECT doc_id, lang, source, copy_idx, n_copies FROM (
              SELECT doc_id, lang, source,
                     CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx,
                     CAST(n_copies AS BIGINT) AS n_copies
              FROM cc WHERE n_copies > 0)
            ORDER BY doc_id, copy_idx"""

  private val x66 = Q("x66_recipe_batch",
    (s, d) => {
      val (corpus, emb) = recipeSetup(s, d)
      Curation.batchRecipe(corpus, "doc_id", "text", "lang", "source",
          emb, "embedding", "x66_bench", "x66_model", recipeParams)
        .orderBy("doc_id", "copy_idx")
    },
    Some(recipeCascadeSql + "," + recipeMixtureTailSql))

  /** The data card maintained INCREMENTALLY from a persisted counter
    * store ([[graft.ext.DataCard.writeCardStore]]/`ingestCardBatch`/
    * `serveCard` — x62's production form): shard 0 builds the
    * per-(source, lang) count store, shards 1–2 land their deltas
    * through the exactly-once ledgered entry, and the card is served
    * from the summed generations — never a corpus re-scan. The three
    * shards partition the corpus, so the oracle is x62's batch SQL
    * over ALL documents minus the deliberately-absent (non-additive)
    * duplicate rate: append-then-serve ≡ batch card on the union, the
    * x55 adjudication pattern. */
  private val x67 = Q("x67_card_store",
    (s, d) => {
      val docs = documents(s, d)
      graft.ext.DataCard.writeCardStore(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", "lang", "source", table = "x67_card", buckets = 4)
      graft.ext.DataCard.ingestCardBatch(docs.filter(col("doc_id") % 3 === 1),
        0L, "doc_id", "text", "lang", "source", "x67_card", 4)
      graft.ext.DataCard.ingestCardBatch(docs.filter(col("doc_id") % 3 === 2),
        1L, "doc_id", "text", "lang", "source", "x67_card", 4)
      graft.ext.DataCard.serveCard(s, "x67_card").orderBy("source")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id, lang, source,
                    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
                    CAST(length(text) AS BIGINT) AS nc,
                    CASE WHEN length(text) = 0 THEN 0.0
                         ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
                    END AS digit_ratio,
                    CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                              / len(regexp_extract_all(lower(text), '[a-z]+'))
                    END AS stop_ratio
                  FROM documents),
             q AS MATERIALIZED (SELECT *, CASE WHEN nt = 0 THEN 0.0
                     ELSE CAST(nc - nt + 1 AS DOUBLE) / nt END AS avg_len FROM f),
             sc AS MATERIALIZED (SELECT *,
                     CAST(floor((0.4 * stop_ratio + 0.3 * (least(avg_len, 10.0) / 10.0)
                                 + 0.3 * (1.0 - digit_ratio)) * 1048576.0) AS BIGINT) AS score_q
                   FROM q),
             roll AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(sum(nt) AS BIGINT) AS n_tokens,
                        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                        CAST(sum(score_q) AS BIGINT) AS score_sum_q
                      FROM sc GROUP BY 1),
             tl AS MATERIALIZED (SELECT source, lang AS top_lang, ln FROM (
                      SELECT source, lang, count(*) AS ln,
                             row_number() OVER (PARTITION BY source
                               ORDER BY count(*) DESC, lang ASC) AS rk
                      FROM sc GROUP BY source, lang) WHERE rk = 1)
            SELECT r.source, r.n_docs, r.n_tokens, r.n_langs, t.top_lang,
                   CAST(t.ln AS DOUBLE) / r.n_docs AS top_lang_share,
                   CAST(r.score_sum_q AS DOUBLE) / 1048576.0 / r.n_docs AS mean_quality
            FROM roll r JOIN tl t USING (source) ORDER BY source"""))

  /** Trigram LM scoring with stupid backoff
    * ([[graft.ext.LmScore.fit3]]/`score3` — the CCNet/KenLM-realistic
    * model depth over x53's bigram core): a seen trigram scores its
    * exact conditional c(w₁w₂w₃)/c(w₁w₂); an unseen one backs off to
    * the bigram conditional at HALF weight (the published 0.4 constant
    * replaced by 0.5 = one exact integer halving of the quantized
    * value — the dsir-margin substitution pattern), unseen backoff
    * scores 0. Same reference split as x53 (doc_id % 10 ≠ 0), same
    * one-tokenize / fp-keyed-joins shape with one more gram order. */
  /** x68's trigram-backoff oracle, shared verbatim by x69 (the
    * store-served form) — the x53/x54 adjudication pattern. */
  private val lm3ScoreOracle = s"""WITH $tokSql,
             pairs3 AS MATERIALIZED (SELECT doc_id, u.pr.tf AS tri_fp, u.pr.cf AS ctx_fp,
                          u.pr.bf AS bo_fp, u.pr.gf AS bo_ctx_fp
                        FROM toks, unnest(list_transform(generate_series(1, len(w)-2),
                          i -> {'tf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]),1,15) AS UBIGINT) AS BIGINT),
                                'cf': CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT),
                                'bf': CAST(CAST('0x'||substr(md5(w[i+1]||' '||w[i+2]),1,15) AS UBIGINT) AS BIGINT),
                                'gf': CAST(CAST('0x'||substr(md5(w[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
                        WHERE len(w) >= 3),
             c1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)),
                        i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 1)
                    GROUP BY fp),
             c2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)-1),
                        i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 2)
                    GROUP BY fp),
             c3 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)-2),
                        i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]||' '||w[i+2]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 3)
                    GROUP BY fp),
             sc3 AS MATERIALIZED (SELECT p.doc_id,
                       CAST(count(*) AS BIGINT) AS n_trigrams,
                       CAST(sum(CASE WHEN t3.c IS NOT NULL
                                 THEN CAST(floor(CAST(t3.c AS DOUBLE) / CAST(t12.c AS DOUBLE)
                                                 * 1073741824.0) AS BIGINT)
                                 ELSE CAST(floor(COALESCE(CAST(t23.c AS DOUBLE) / CAST(t2.c AS DOUBLE), 0.0)
                                                 * 1073741824.0) AS BIGINT) // 2
                                END) AS BIGINT) AS p_sum_q
                     FROM pairs3 p
                     LEFT JOIN c3 t3 ON p.tri_fp = t3.fp
                     LEFT JOIN c2 t12 ON p.ctx_fp = t12.fp
                     LEFT JOIN c2 t23 ON p.bo_fp = t23.fp
                     LEFT JOIN c1 t2 ON p.bo_ctx_fp = t2.fp
                     GROUP BY p.doc_id)
            SELECT d.doc_id,
                   COALESCE(sc3.n_trigrams, 0) AS n_trigrams,
                   sc3.p_sum_q,
                   CAST(sc3.p_sum_q AS DOUBLE) / 1073741824.0
                     / CAST(sc3.n_trigrams AS DOUBLE) AS lm3_score
            FROM documents d LEFT JOIN sc3 ON sc3.doc_id = d.doc_id
            ORDER BY d.doc_id"""

  private val x68 = Q("x68_lm_trigram_backoff",
    (s, d) => {
      val docs = documents(s, d)
      val model = graft.ext.LmScore.fit3(
        docs.filter(col("doc_id") % 10 =!= 0), "text").localCheckpoint(true)
      graft.ext.LmScore.score3(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
    Some(lm3ScoreOracle))

  /** x68's trigram scoring served from a PERSISTED `maxN = 3` model
    * store ([[graft.ext.LmScore.writeModelStore]] at depth 3 /
    * `score3AgainstStore`): the reference's three gram orders land
    * once as one fp-bucketed relation with the depth in the meta
    * commit marker (appends read it back, a bigram store refuses to
    * serve trigram scoring), and the four count joins read the
    * buckets in place. Must produce exactly x68's answer — the oracle
    * IS x68's. */
  private val x69 = Q("x69_lm3_score_store",
    (s, d) => {
      val docs = documents(s, d)
      graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
        "text", table = "x69_lm3_model", buckets = 8, maxN = 3)
      graft.ext.LmScore.score3AgainstStore(docs, "doc_id", "text",
          "x69_lm3_model")
        .orderBy("doc_id")
    },
    Some(lm3ScoreOracle))

  /** DSIR-DRIVEN mixture composition ([[graft.ext.Mixing.dsirMixture]]
    * — x58's selection feeding x60's materialization, the published
    * DSIR → sampling pipeline): the en-target / non-en-source model
    * stores score every doc, each language's mixture weight is its
    * share of the DSIR-SELECTED token mass, and the budget materializes
    * over the full corpus — so the per-domain repeat factors differ
    * exactly where the selection rates do (en dominates, never-selected
    * domains drop to weight 0; at sf0.01 every domain's factor differs
    * from the uniform mixture's). The oracle replays the two-model
    * scoring (the shared x58 CTE chain), the driver-scalar weight
    * division, and the factor/draw arithmetic bit-exactly. */
  private val x70 = Q("x70_dsir_mixture",
    (s, d) => {
      val docs = documents(s, d)
      // the target and source model stores are independent builds into
      // separate tables — overlap them (guide §2.6)
      graft.core.Bucketing.inParallel(
        graft.ext.LmScore.writeModelStore(docs.filter(col("lang") === "en"),
          "text", table = "x70_target", buckets = 8),
        graft.ext.LmScore.writeModelStore(docs.filter(col("lang") =!= "en"),
          "text", table = "x70_source", buckets = 8))
      Mixing.dsirMixture(docs, "lang", "doc_id", "text",
          "x70_target", "x70_source", budgetTokens = 30000L)
        .select(col("doc_id"), col("lang"), col("copy_idx"), col("n_copies"))
        .orderBy("doc_id", "copy_idx")
    },
    Some(s"""WITH $dsirAggSql,
             sel AS MATERIALIZED (SELECT d.doc_id, d.lang
                     FROM documents d JOIN agg a ON a.doc_id = d.doc_id
                     WHERE a.n_bigrams > 0 AND a.t_sum_q > a.s_sum_q),
             mtok AS MATERIALIZED (SELECT doc_id, lang,
                        CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS BIGINT) AS nt
                      FROM documents),
             selm AS MATERIALIZED (SELECT m.lang, CAST(sum(m.nt) AS BIGINT) AS sel_tokens
                      FROM mtok m JOIN sel ON sel.doc_id = m.doc_id
                      GROUP BY 1),
             tot AS MATERIALIZED (SELECT CAST(sum(sel_tokens) AS BIGINT) AS t FROM selm),
             fx AS MATERIALIZED (SELECT st.lang,
                      CASE WHEN st.n_tokens = 0 THEN 0.0
                           ELSE CAST(30000 AS DOUBLE)
                                * (CAST(COALESCE(sm.sel_tokens, 0) AS DOUBLE)
                                   / CAST((SELECT t FROM tot) AS DOUBLE))
                                / st.n_tokens END AS factor
                    FROM (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens
                          FROM mtok GROUP BY 1) st
                    LEFT JOIN selm sm USING (lang)),
             dd AS MATERIALIZED (SELECT m.doc_id, m.lang,
                      CAST(floor(fx.factor) AS BIGINT) AS full_copies,
                      CAST(floor(fx.factor * 10000.0) AS BIGINT)
                        - CAST(floor(fx.factor) AS BIGINT) * 10000 AS thr
                    FROM mtok m JOIN fx USING (lang)),
             cc AS MATERIALIZED (SELECT doc_id, lang,
                      full_copies + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < thr
                                          THEN 1 ELSE 0 END) AS n_copies
                    FROM dd)
            SELECT doc_id, lang, copy_idx, n_copies FROM (
              SELECT doc_id, lang,
                     CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx,
                     CAST(n_copies AS BIGINT) AS n_copies
              FROM cc WHERE n_copies > 0)
            ORDER BY doc_id, copy_idx"""))

  /** The benchmark store grown by APPEND
    * ([[graft.ext.Decontaminate.appendToBenchmark]] /
    * `ingestBenchmarkBatch` — benchmarks do change, and a full rebuild
    * per new eval suite is O(benchmark) while the append is O(new
    * grams) + one O(store) bloom retrain): the %10 benchmark arrives in
    * three waves (a %3 seed build, then two ledgered appends), and the
    * served check must equal x52's store-rebuilt-on-everything answer —
    * the oracle IS x52's. Exercises the pending-marker protocol's happy
    * path and the exactly-once skip (the second append of a committed
    * batch id is a no-op). */
  private val x71 = Q("x71_bench_append",
    (s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      Decontaminate.writeBenchmarkStore(bench.filter(col("doc_id") % 3 === 0),
        "text", n = 8, table = "x71_bench", buckets = 8)
      Decontaminate.ingestBenchmarkBatch(bench.filter(col("doc_id") % 3 === 1),
        0L, "text", "x71_bench", 8)
      Decontaminate.ingestBenchmarkBatch(bench.filter(col("doc_id") % 3 === 2),
        1L, "text", "x71_bench", 8)
      // a replayed committed batch must change nothing (the ledger skip)
      Decontaminate.ingestBenchmarkBatch(bench.filter(col("doc_id") % 3 === 2),
        1L, "text", "x71_bench", 8)
      Decontaminate.contaminatedAgainstStore(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          "x71_bench")
        .orderBy("doc_id")
    },
    Some(benchContamOracle))

  /** The curation run's funnel TIME SERIES
    * ([[graft.ext.CurationLoop.funnelHistory]]): three shards through
    * the full five-store loop, then the per-(batch, stage) drop rates
    * and their batch-over-batch deltas — the drift dashboard a
    * production run watches (here the drift is DESIGNED: batch 0 is
    * clean, batch 1 re-crawls half the seed corpus, batch 2 re-crawls
    * all of it, so the exact stage's drop rate climbs 0 → … across the
    * series). Stages 2–5 run with neutralized thresholds (ceil(1.1·16)
    * = 18 > 16 signature matches, cosine ≥ 1.5, contamination ≤ 1.0,
    * score < 0.0 — each impossible by construction), so the oracle's
    * cascade replay is the three-batch fingerprint chain alone; the
    * all-stages-biting cascade is x56/x57's jurisdiction — HERE the
    * operator under test is the history READER (unpivot + rate + lag
    * arithmetic) over a funnel the real loop wrote. */
  private val x72 = Q("x72_funnel_history",
    (s, d) => {
      val docs = documents(s, d)
      val emb = embeddings(s, d)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val full = train
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
        .select(col("doc_id"), col("text"), col("embedding"))
      val seed = full.filter(col("doc_id") % 4 === 0)
      ExactDedup.writeFingerprintStore(seed, "doc_id", "text",
        table = "x72_fp", buckets = 8)
      graft.ext.IncrementalDedup.writeSignatureStore(seed, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x72_sig",
        buckets = 8)
      graft.ext.VectorStore.writeVectorStore(
        seed.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        nCentroids = 16, dim = 64, seedOffset = 100000L,
        table = "x72_vec", buckets = 8)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x72_bench", buckets = 8)
      graft.ext.LmScore.writeModelStore(train, "text",
        table = "x72_model", buckets = 8)
      val root = java.nio.file.Files.createTempDirectory("graft-x72-").toString
      val stores = graft.ext.CurationLoop.Stores("x72_fp", "x72_sig",
        "x72_vec", "x72_bench", "x72_model", buckets = 8)
      val params = graft.ext.CurationLoop.Params(shingleN = 3,
        numHashes = 16, nBands = 4, minJaccard = 1.1, minCosine = 1.5,
        nCentroids = 16, nProbe = 4, dim = 64, seedOffset = 100000L,
        maxContamination = 1.0, minLmScore = 0.0)
      val twins2 = full
        .filter(col("doc_id") % 4 === 0 && col("doc_id") % 2 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"),
          col("embedding"))
      val twins3 = full.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"), col("text"),
          col("embedding"))
      graft.ext.CurationLoop.ingestShard(full.filter(col("doc_id") % 4 === 1),
        0L, "doc_id", "text", "embedding", stores, params, root)
      graft.ext.CurationLoop.ingestShard(
        full.filter(col("doc_id") % 4 === 2).unionByName(twins2),
        1L, "doc_id", "text", "embedding", stores, params, root)
      graft.ext.CurationLoop.ingestShard(
        full.filter(col("doc_id") % 4 === 3).unionByName(twins3),
        2L, "doc_id", "text", "embedding", stores, params, root)
      graft.ext.CurationLoop.funnelHistory(s, root)
        .orderBy("stage_no", "batch_id")
    },
    Some("""WITH f AS MATERIALIZED (SELECT doc_id,
                    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
                  FROM documents WHERE doc_id % 10 <> 0
                    AND doc_id IN (SELECT vec_id FROM embeddings)),
             fs0 AS MATERIALIZED (SELECT fp, min(doc_id) AS cid FROM f WHERE doc_id % 4 = 0 GROUP BY fp),
             b1 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 4 = 1),
             e1 AS MATERIALIZED (SELECT b1.doc_id, s.cid AS dup_of FROM b1 LEFT JOIN fs0 s USING (fp)),
             fg1 AS MATERIALIZED (SELECT b1.fp, min(b1.doc_id) AS cid
                     FROM b1 JOIN e1 ON e1.doc_id = b1.doc_id
                     WHERE e1.dup_of IS NULL GROUP BY b1.fp),
             fs1 AS MATERIALIZED (SELECT fp, min(cid) AS cid FROM (
                       SELECT * FROM fs0 UNION ALL SELECT * FROM fg1) GROUP BY fp),
             b2 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 4 = 2
                    UNION ALL
                    SELECT doc_id + 200000, fp FROM f
                    WHERE doc_id % 4 = 0 AND doc_id % 2 = 0),
             e2 AS MATERIALIZED (SELECT b2.doc_id, s.cid AS dup_of FROM b2 LEFT JOIN fs1 s USING (fp)),
             fg2 AS MATERIALIZED (SELECT b2.fp, min(b2.doc_id) AS cid
                     FROM b2 JOIN e2 ON e2.doc_id = b2.doc_id
                     WHERE e2.dup_of IS NULL GROUP BY b2.fp),
             fs2 AS MATERIALIZED (SELECT fp, min(cid) AS cid FROM (
                       SELECT * FROM fs1 UNION ALL SELECT * FROM fg2) GROUP BY fp),
             b3 AS MATERIALIZED (SELECT doc_id, fp FROM f WHERE doc_id % 4 = 3
                    UNION ALL
                    SELECT doc_id + 300000, fp FROM f WHERE doc_id % 4 = 0),
             e3 AS MATERIALIZED (SELECT b3.doc_id, s.cid AS dup_of FROM b3 LEFT JOIN fs2 s USING (fp)),
             cnt AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS batch_id,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(count(*) FILTER (WHERE dup_of IS NULL) AS BIGINT) AS n_kept
                     FROM e1
                     UNION ALL
                     SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                       CAST(count(*) FILTER (WHERE dup_of IS NULL) AS BIGINT)
                     FROM e2
                     UNION ALL
                     SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                       CAST(count(*) FILTER (WHERE dup_of IS NULL) AS BIGINT)
                     FROM e3),
             st AS MATERIALIZED (SELECT * FROM (VALUES (1, 'exact'), (2, 'neardup'),
                      (3, 'vector'), (4, 'decontam'), (5, 'lm')) AS t(stage_no, stage)),
             long AS MATERIALIZED (SELECT c.batch_id, st.stage_no, st.stage,
                        CASE WHEN st.stage_no = 1 THEN c.n_docs ELSE c.n_kept END AS n_in,
                        c.n_kept AS n_out
                      FROM cnt c CROSS JOIN st),
             rr AS MATERIALIZED (SELECT *, CASE WHEN n_in > 0
                      THEN CAST(n_in - n_out AS DOUBLE) / n_in END AS drop_rate
                    FROM long)
            SELECT batch_id, stage_no, stage, n_in, n_out, drop_rate,
                   drop_rate - lag(drop_rate) OVER (PARTITION BY stage_no
                     ORDER BY batch_id) AS drop_rate_delta
            FROM rr ORDER BY stage_no, batch_id"""))

  /** CCNet head/middle/tail terciles ([[graft.ext.Curation.scoreBuckets]]
    * — Wenzek et al.'s published per-language perplexity split, the
    * graded form of x59's keep/drop gate): every doc's LM score buckets
    * it into its source's top/middle/bottom third via ntile over the
    * (score DESC, doc_id) total order — tie-safe and engine-identical —
    * with null-scored docs abstaining (null bucket). */
  private val x73 = Q("x73_ccnet_buckets",
    (s, d) => {
      val docs = documents(s, d)
      val model = graft.ext.LmScore.fit(docs.filter(col("doc_id") % 10 =!= 0),
        "text").localCheckpoint(true)
      val scored = graft.ext.LmScore.score(docs, "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lm_score"))
      Curation.scoreBuckets(scored, "source", "lm_score", "doc_id", 3)
        .orderBy("doc_id")
    },
    Some(s"""$lmCascadeSql,
             base AS MATERIALIZED (SELECT d.doc_id, d.source,
                        CAST(sc.p_sum_q AS DOUBLE) / 1073741824.0
                          / CAST(sc.n_bigrams AS DOUBLE) AS lm_score
                      FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
            SELECT doc_id, source, lm_score,
                   CAST(ntile(3) OVER (PARTITION BY source
                     ORDER BY lm_score DESC, doc_id) AS BIGINT) AS bucket
            FROM base WHERE lm_score IS NOT NULL
            UNION ALL
            SELECT doc_id, source, lm_score, CAST(NULL AS BIGINT) AS bucket
            FROM base WHERE lm_score IS NULL
            ORDER BY doc_id"""))

  /** The REVERSE decontamination audit
    * ([[graft.ext.Decontaminate.leakageReport]] — x19/x44 report per
    * TRAIN doc; a release also needs the benchmark-side view): per
    * %10-split eval doc, its distinct 8-grams, how many leak into the
    * training corpus, the leaked fraction, and the distinct train docs
    * sharing ≥ 1 gram (blast radius — boilerplate vs verbatim copy).
    * One gram-keyed join + per-doc count-distincts, replayed exactly. */
  private val x74 = Q("x74_leakage_report",
    (s, d) => Decontaminate.leakageReport(documents(s, d), "doc_id", "text",
        col("doc_id") % 10 === 0, n = 8)
      .orderBy("doc_id"),
    Some(s"""WITH $tokSql,
             g AS MATERIALIZED (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
                      i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                   FROM toks WHERE len(w) >= 8),
             dg AS MATERIALIZED (SELECT DISTINCT doc_id, gram_fp FROM g),
             ev AS MATERIALIZED (SELECT * FROM dg WHERE doc_id % 10 = 0),
             tr AS MATERIALIZED (SELECT doc_id AS tid, gram_fp FROM dg WHERE doc_id % 10 <> 0),
             j AS MATERIALIZED (SELECT ev.doc_id, ev.gram_fp, tr.tid
                   FROM ev LEFT JOIN tr USING (gram_fp))
            SELECT doc_id,
                   CAST(count(DISTINCT gram_fp) AS BIGINT) AS n_grams,
                   CAST(count(DISTINCT CASE WHEN tid IS NOT NULL THEN gram_fp END) AS BIGINT) AS n_leaked,
                   CAST(count(DISTINCT tid) AS BIGINT) AS n_train_docs,
                   CAST(count(DISTINCT CASE WHEN tid IS NOT NULL THEN gram_fp END) AS DOUBLE)
                     / count(DISTINCT gram_fp) AS leakage
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** The batch recipe's published FUNNEL
    * ([[graft.ext.Curation.batchRecipeFunnel]] — the release-report
    * twin of x57's loop funnel): per-stage survivor counts of the SAME
    * recipe run x66 checks (one shared stage implementation and one
    * shared oracle cascade, so mixture and funnel can never diverge).
    * Seven exact int64 counts; the boilerplate stage is absent by
    * design — it cleans content, never drops documents. */
  private val x75 = Q("x75_recipe_funnel",
    (s, d) => {
      val (corpus, emb) = recipeSetup(s, d)
      Curation.batchRecipeFunnel(corpus, "doc_id", "text", "lang",
          "source", emb, "embedding", "x66_bench", "x66_model",
          recipeParams)
        .orderBy("stage_no")
    },
    Some(s"""$recipeCascadeSql
            SELECT stage_no, stage, n_docs FROM (VALUES
              (1, 'raw', (SELECT CAST(count(*) AS BIGINT) FROM corpus)),
              (2, 'rule_gate', (SELECT CAST(count(*) AS BIGINT) FROM s1)),
              (3, 'exact', (SELECT CAST(count(*) AS BIGINT) FROM s3)),
              (4, 'neardup', (SELECT CAST(count(*) AS BIGINT) FROM s4)),
              (5, 'vector', (SELECT CAST(count(*) AS BIGINT) FROM s5)),
              (6, 'decontam', (SELECT CAST(count(*) AS BIGINT) FROM s6)),
              (7, 'lm', (SELECT CAST(count(*) AS BIGINT) FROM s7))
            ) AS t(stage_no, stage, n_docs) ORDER BY stage_no"""))

  /** The benchmark store grown by a STREAM of eval-suite waves
    * ([[graft.ext.Decontaminate.streamIngestBenchmark]] — x71's
    * exactly-once loop driven through a real `foreachBatch` execution,
    * completing the batch + streamed ingest symmetry all five stores
    * now share): a %3 seed build, two file-source waves through the
    * checkpointed stream with decay-triggered in-loop compaction, then
    * the served check — which must equal x52's
    * store-rebuilt-on-everything answer; the oracle IS x52's. */
  private val x76 = Q("x76_stream_bench_ingest",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x76-")
      val in = root.resolve("in"); val chk = s"$root/chk"
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val stream = graft.util.Staging.stagedStream(in,
          Seq(bench.filter(col("doc_id") % 3 === 1),
            bench.filter(col("doc_id") % 3 === 2)))(
        Decontaminate.writeBenchmarkStore(
          bench.filter(col("doc_id") % 3 === 0),
          "text", n = 8, table = "x76_bench", buckets = 8))
      Decontaminate.streamIngestBenchmark(stream, "text", "x76_bench",
          buckets = 8, checkpoint = chk, maxFilesPerBucket = 1)
        .awaitTermination()
      // the loop appended + compacted in its foreachBatch session CLONE;
      // this outer session's relation/file-listing caches are stale for
      // the mutated tables — the documented cross-session convention
      // (Bucketing.replaceBucketed): REFRESH before the next read
      s.catalog.refreshTable("x76_bench")
      s.catalog.refreshTable(Decontaminate.benchmarkMeta("x76_bench"))
      Decontaminate.contaminatedAgainstStore(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          "x76_bench")
        .orderBy("doc_id")
    },
    Some(benchContamOracle))

  /** Fuzzy decontamination
    * ([[graft.ext.Decontaminate.fuzzyContaminatedAgainstStore]]): the
    * %10 benchmark split persisted as a MinHash signature store, every
    * remaining doc probed through banded equi-joins — a near-duplicate
    * of a benchmark doc is contamination even when (unlike x19/x44/x52)
    * it shares no long exact n-gram. Same signature constants as x34 so
    * the oracle's minhash CTE math is shared. */
  private val x77 = Q("x77_fuzzy_decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      graft.ext.IncrementalDedup.writeSignatureStore(bench, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, table = "x77_bench_sig",
        buckets = 8)
      Decontaminate.fuzzyContaminatedAgainstStore(train, "doc_id", "text",
          shingleN = 3, numHashes = 16, nBands = 4, table = "x77_bench_sig",
          minJaccard = 0.5)
        .orderBy("doc_id")
    },
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 pairs AS MATERIALIZED (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS store_id
                           FROM bands n JOIN bands s ON n.b = s.b AND n.bk = s.bk
                           WHERE n.doc_id % 10 <> 0 AND s.doc_id % 10 = 0),
                 m AS MATERIALIZED (SELECT new_id, store_id
                       FROM pairs JOIN sig sa ON sa.doc_id = new_id
                                  JOIN sig sb ON sb.doc_id = store_id
                       WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 agg AS MATERIALIZED (SELECT new_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
                                min(store_id) AS min_bench_id
                         FROM m GROUP BY new_id)
            SELECT d.doc_id, (a.min_bench_id IS NOT NULL) AS contaminated,
                   COALESCE(a.n_bench_matches, 0) AS n_bench_matches, a.min_bench_id
            FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
            WHERE d.doc_id % 10 <> 0
            ORDER BY d.doc_id"""))

  /** x78's full near-dup → components → keyed-split cascade, shared
    * verbatim by x100 (which trains the quality classifier on the
    * TRAIN side and audits calibration on the held-out VALID side —
    * the split that makes the audit leak-proof must be the exact split
    * the engine ships). Ends in `sp(doc_id, source, text, split_key,
    * split)`; splice after a `WITH RECURSIVE` header. */
  private val splitCascadeSql =
    """toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
                           JOIN sig sa ON sa.doc_id = doc_a
                           JOIN sig sb ON sb.doc_id = doc_b
                           WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 e(u, v) AS (SELECT doc_a, doc_b FROM pairs
                             UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (SELECT u, v FROM e
                                 UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
                 comp AS MATERIALIZED (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
                          FROM reach GROUP BY u),
                 sp AS MATERIALIZED (
                   SELECT d.doc_id, d.source, d.text,
                          COALESCE(c.canonical_id, d.doc_id) AS split_key,
                          CASE WHEN CAST(CAST('0x'||substr(md5(CAST(COALESCE(c.canonical_id, d.doc_id) AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < 1000
                               THEN 'valid' ELSE 'train' END AS split
                   FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)"""

  /** Cluster-safe train/validation split
    * ([[graft.ext.Sampling.clusterSafeSplit]]): near-dup clusters from
    * x35's star algorithm, the split drawn from the cluster canonical
    * id through the x15 md5-bucket primitive — no near-duplicate pair
    * ever straddles the held-out boundary. Oracle = x35's recursive
    * component CTE + x15's bucket arithmetic composed. */
  private val x78 = Q("x78_cluster_safe_split",
    (s, d) => graft.ext.Sampling.clusterSafeSplit(documents(s, d), "doc_id",
        "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
        validRate = 0.1)
      .select("doc_id", "split_key", "split")
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
                 $splitCascadeSql
            SELECT doc_id, split_key, split FROM sp ORDER BY doc_id"""))

  /** Temperature-flattened mixture
    * ([[graft.ext.Mixing.temperatureFactors]]): α = 1/2 smoothing of
    * the per-language token masses (every factor a composition of
    * correctly-rounded IEEE sqrt/multiply over exact int64 stats, so
    * the oracle replays it bit-exactly), composed through
    * [[graft.ext.Mixing.materializeMixture]] — the output row per
    * language carries the smoothed weight, the repeat factor, and the
    * materialized copy-row count, so the check pins the whole
    * weights → factors → mixture chain. */
  private val x79 = Q("x79_temperature_mixture",
    (s, d) => {
      val docs = documents(s, d)
      // O(1) driver scalar (the x60 convention): budget = 2x corpus
      val total = docs.agg(
        sum(coalesce(size(graft.ext.Ngrams.normTokens(col("text")))
          .cast("long"), lit(0L)))).head.getLong(0)
      val factors = Mixing.temperatureFactors(docs, "lang", "text",
        alphaQuarters = 2, budgetTokens = 2L * total)
      val counts = Mixing.materializeMixture(docs, "lang", "doc_id", factors)
        .groupBy("lang").agg(count(lit(1)).as("n_out_rows"))
      factors.join(counts, Seq("lang"), "left")
        .withColumn("n_out_rows", coalesce(col("n_out_rows"), lit(0L)))
        .orderBy("lang")
    },
    Some("""WITH tok AS MATERIALIZED (SELECT doc_id, lang,
                    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS nt
                  FROM documents),
             b AS MATERIALIZED (SELECT 2 * CAST(sum(nt) AS BIGINT) AS budget FROM tok),
             s AS MATERIALIZED (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(nt) AS BIGINT) AS n_tokens
                   FROM tok GROUP BY 1),
             q AS MATERIALIZED (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 16.0) AS BIGINT) AS qf FROM s),
             t AS MATERIALIZED (SELECT *, sum(qf) OVER () AS total FROM q),
             f AS MATERIALIZED (SELECT lang, n_docs, n_tokens,
                     CASE WHEN total = 0 THEN 0.0
                          ELSE CAST(qf AS DOUBLE) / CAST(total AS DOUBLE) END AS weight,
                     CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE CAST((SELECT budget FROM b) AS DOUBLE)
                               * (CASE WHEN total = 0 THEN 0.0
                                       ELSE CAST(qf AS DOUBLE) / CAST(total AS DOUBLE) END)
                               / n_tokens END AS repeat_factor
                   FROM t),
             d AS MATERIALIZED (SELECT tk.lang,
                     CAST(floor(f.repeat_factor) AS BIGINT)
                       + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(tk.doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                               < CAST(floor(f.repeat_factor * 10000.0) AS BIGINT)
                                 - CAST(floor(f.repeat_factor) AS BIGINT) * 10000
                               THEN 1 ELSE 0 END) AS n_copies
                   FROM tok tk JOIN f USING (lang)),
             c AS MATERIALIZED (SELECT lang, CAST(sum(n_copies) AS BIGINT) AS n_out_rows
                   FROM d GROUP BY lang)
            SELECT f.lang, f.n_docs, f.n_tokens, f.weight, f.repeat_factor,
                   COALESCE(c.n_out_rows, 0) AS n_out_rows
            FROM f LEFT JOIN c USING (lang)
            ORDER BY f.lang"""))

  /** Cross-document duplicate span removal
    * ([[graft.ext.PassageDedup.removeDuplicateSpans]], the ExactSubstr
    * method): every sliding 8-token window fingerprinted, windows seen
    * earlier in (doc, position) order mark their tokens for removal,
    * first occurrences survive verbatim. The oracle replays the window
    * fingerprints, the first-wins rank, and the token-level cut. */
  private val x80 = Q("x80_span_dedup",
    (s, d) => PassageDedup.removeDuplicateSpans(documents(s, d), "doc_id",
        "text", windowTokens = 8)
      .orderBy("doc_id"),
    Some("""WITH toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 w0 AS MATERIALIZED (SELECT doc_id, unnest(CASE WHEN len(w) < 8 THEN []
                          ELSE list_transform(range(0, len(w)-8+1), i ->
                            {'pos': i, 'fp': md5(array_to_string(list_slice(w, i+1, i+8), ' '))}) END) AS u
                        FROM toks),
                 wins AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0),
                 r AS MATERIALIZED (SELECT doc_id, pos, fp,
                         row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
                       FROM wins),
                 ds AS MATERIALIZED (SELECT doc_id, list_sort(list(pos)) AS starts
                        FROM r WHERE rn > 1 GROUP BY doc_id),
                 k AS MATERIALIZED (SELECT t.doc_id, t.w,
                         CASE WHEN d.starts IS NULL THEN t.w
                              ELSE list_filter(list_transform(range(0, len(t.w)), j ->
                                     CASE WHEN len(list_filter(d.starts, x -> x <= j AND j < x + 8)) > 0
                                          THEN NULL ELSE list_extract(t.w, CAST(j+1 AS INT)) END),
                                   y -> y IS NOT NULL) END AS kept
                       FROM toks t LEFT JOIN ds d USING (doc_id))
            SELECT doc_id,
                   COALESCE(CAST(len(w) AS BIGINT), 0) AS n_tokens,
                   COALESCE(CAST(len(w) - len(kept) AS BIGINT), 0) AS n_removed,
                   COALESCE(array_to_string(kept, ' '), '') AS text_kept
            FROM k ORDER BY doc_id"""))

  /** Contaminated-span removal
    * ([[graft.ext.Decontaminate.removeContaminatedSpans]], the GPT-3
    * appendix-C deployment): 8-gram windows matching the persisted
    * benchmark store are cut out of the training text token-exactly —
    * the surgical alternative to x52's whole-doc verdict. Same %10
    * split and gram math as x52; the oracle replays window
    * fingerprints, the store match, and the token-level cut. */
  private val x81 = Q("x81_span_decontaminate",
    (s, d) => {
      val docs = documents(s, d)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x81_bench_store", buckets = 8)
      Decontaminate.removeContaminatedSpans(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          "x81_bench_store")
        .orderBy("doc_id")
    },
    Some(s"""WITH $tokSql,
             ev AS MATERIALIZED (SELECT DISTINCT unnest(list_transform(generate_series(1, len(w)-7),
                      i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
                    FROM toks WHERE doc_id % 10 = 0 AND len(w) >= 8),
             w0 AS MATERIALIZED (SELECT doc_id, unnest(CASE WHEN len(w) < 8 THEN []
                      ELSE list_transform(range(0, len(w)-8+1), i ->
                        {'pos': i, 'fp': CAST(CAST('0x'||substr(md5(array_to_string(list_slice(w, i+1, i+8), ' ')),1,15) AS UBIGINT) AS BIGINT)}) END) AS u
                    FROM toks WHERE doc_id % 10 <> 0),
             wins AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0),
             fl AS MATERIALIZED (SELECT doc_id, list_sort(list(pos)) AS starts
                    FROM wins JOIN ev ON wins.fp = ev.gram_fp
                    GROUP BY doc_id),
             k AS MATERIALIZED (SELECT t.doc_id, t.w,
                     CASE WHEN f.starts IS NULL THEN t.w
                          ELSE list_filter(list_transform(range(0, len(t.w)), j ->
                                 CASE WHEN len(list_filter(f.starts, x -> x <= j AND j < x + 8)) > 0
                                      THEN NULL ELSE list_extract(t.w, CAST(j+1 AS INT)) END),
                               y -> y IS NOT NULL) END AS kept
                   FROM toks t LEFT JOIN fl f USING (doc_id)
                   WHERE t.doc_id % 10 <> 0)
            SELECT doc_id,
                   COALESCE(CAST(len(w) AS BIGINT), 0) AS n_tokens,
                   COALESCE(CAST(len(w) - len(kept) AS BIGINT), 0) AS n_removed,
                   COALESCE(array_to_string(kept, ' '), '') AS text_kept
            FROM k ORDER BY doc_id"""))

  /** Source-priority exact dedup
    * ([[graft.ext.ExactDedup.dedupWithPriority]]): the corpus is
    * unioned with a deterministic re-crawl twin of every document (ids
    * + 100000, the x66 operational idiom — sf0.01 has no natural exact
    * dups), and the twin's priority beats the original's for EVEN base
    * ids while TYING it for odd ones — so both the priority-overrides-
    * id path (even pairs keep the LARGER twin id) and the id tie-break
    * path (odd pairs keep the original) bite in the same check. */
  private val x82 = Q("x82_priority_dedup",
    (s, d) => {
      val docs = documents(s, d).select("doc_id", "text", "source")
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 100000L).as("doc_id"), col("text"),
        lit("recrawl").as("source")))
      ExactDedup.dedupWithPriority(
          corpus.withColumn("prio",
            when(col("source") === "recrawl", pmod(col("doc_id"), lit(2L)))
              .otherwise(lit(1L))),
          "doc_id", "text", "prio")
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS MATERIALIZED (SELECT doc_id, text, source FROM documents
                     UNION ALL
                     SELECT doc_id + 100000, text, 'recrawl' FROM documents),
                 d AS MATERIALIZED (SELECT doc_id,
                         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                         CASE WHEN source = 'recrawl' THEN doc_id % 2 ELSE 1 END AS prio
                       FROM corpus),
                 w AS MATERIALIZED (SELECT fp, doc_id AS win_id FROM (
                         SELECT fp, doc_id,
                           row_number() OVER (PARTITION BY fp ORDER BY prio, doc_id) AS rn
                         FROM d WHERE fp IS NOT NULL)
                       WHERE rn = 1)
            SELECT d.doc_id,
                   (w.win_id IS NULL OR w.win_id = d.doc_id) AS kept,
                   COALESCE(w.win_id, d.doc_id) AS canonical_id
            FROM d LEFT JOIN w USING (fp)
            ORDER BY d.doc_id"""))

  /** Passage-level LM quality cutting
    * ([[graft.ext.LmScore.removeLowQualityPassages]], the CCNet
    * deployment grain — paragraphs, not pages): 16-token passages
    * scored as their own documents against the x54 model store,
    * passages under the threshold cut, documents reassembled. The
    * threshold 0.0315 sits at the ~10th percentile of the per-passage
    * score distribution at sf0.01, so the gate provably bites while
    * most content survives; short passages score null and ABSTAIN. The
    * oracle replays the passage split, the per-passage quantized
    * bigram-ratio sum, the gate, and the reassembly. */
  private val x83 = Q("x83_passage_quality_cut",
    (s, d) => {
      val docs = documents(s, d)
      graft.ext.LmScore.writeModelStore(docs.filter(col("doc_id") % 10 =!= 0),
        "text", table = "x83_lm_model", buckets = 8)
      graft.ext.LmScore.removeLowQualityPassages(docs, "doc_id", "text",
          chunkTokens = 16, table = "x83_lm_model", minScore = 0.0315)
        .orderBy("doc_id")
    },
    Some(s"""WITH $tokSql,
             c1 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)),
                        i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 1)
                    GROUP BY fp),
             c2 AS MATERIALIZED (SELECT fp, count(*) AS c FROM (
                      SELECT unnest(list_transform(generate_series(1, len(w)-1),
                        i -> CAST(CAST('0x'||substr(md5(w[i]||' '||w[i+1]),1,15) AS UBIGINT) AS BIGINT))) AS fp
                      FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 2)
                    GROUP BY fp),
             ps0 AS MATERIALIZED (SELECT doc_id, unnest(
                       CASE WHEN len(w) = 0 THEN [{'idx': CAST(0 AS BIGINT), 'pt': CAST([] AS VARCHAR[])}]
                            ELSE list_transform(range(0, CAST(floor((len(w)-1)/16) AS BIGINT) + 1),
                              c -> {'idx': c, 'pt': list_slice(w, CAST(c*16+1 AS INT), CAST(c*16+16 AS INT))}) END) AS u
                     FROM toks),
             ps AS MATERIALIZED (SELECT doc_id, u.idx AS idx, u.pt AS pt FROM ps0),
             pp AS MATERIALIZED (SELECT doc_id, idx, u.pr.uf AS uf, u.pr.bf AS bf
                    FROM ps, unnest(list_transform(generate_series(1, len(pt)-1),
                      i -> {'uf': CAST(CAST('0x'||substr(md5(pt[i]),1,15) AS UBIGINT) AS BIGINT),
                            'bf': CAST(CAST('0x'||substr(md5(pt[i]||' '||pt[i+1]),1,15) AS UBIGINT) AS BIGINT)})) AS u(pr)
                    WHERE len(pt) >= 2),
             sc AS MATERIALIZED (SELECT doc_id, idx, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(CAST(floor(COALESCE(CAST(c2.c AS DOUBLE) / CAST(c1.c AS DOUBLE), 0.0)
                                          * 1073741824.0) AS BIGINT)) AS BIGINT) AS q
                    FROM pp LEFT JOIN c2 ON pp.bf = c2.fp
                            LEFT JOIN c1 ON pp.uf = c1.fp
                    GROUP BY 1, 2),
             v AS MATERIALIZED (SELECT ps.doc_id, ps.idx, ps.pt,
                     (sc.q IS NOT NULL
                       AND CAST(sc.q AS DOUBLE) / 1073741824.0 / CAST(sc.n AS DOUBLE) < 0.0315) AS dropped
                   FROM ps LEFT JOIN sc USING (doc_id, idx)),
             agg AS MATERIALIZED (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_passages,
                       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                       array_to_string(
                         list(array_to_string(pt, ' ') ORDER BY idx)
                           FILTER (WHERE NOT dropped), ' ') AS text_kept
                     FROM v GROUP BY doc_id)
            SELECT d.doc_id, COALESCE(a.n_passages, 0) AS n_passages,
                   COALESCE(a.n_dropped, 0) AS n_dropped,
                   COALESCE(a.text_kept, '') AS text_kept
            FROM documents d LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id"""))

  /** Mixture audit ([[graft.ext.Mixing.mixtureAudit]]): the realized
    * per-language row/token mass of x79's materialized temperature
    * mixture against its factor table's targets — plan → materialize →
    * VERIFY, the closing step of the recipe loop. The oracle replays
    * the whole chain (x79's CTEs) plus the audit arithmetic. */
  private val x84 = Q("x84_mixture_audit",
    (s, d) => {
      val docs = documents(s, d)
      val total = docs.agg(
        sum(coalesce(size(graft.ext.Ngrams.normTokens(col("text")))
          .cast("long"), lit(0L)))).head.getLong(0)
      val factors = Mixing.temperatureFactors(docs, "lang", "text",
        alphaQuarters = 2, budgetTokens = 2L * total)
      Mixing.mixtureAudit(
          Mixing.materializeMixture(docs, "lang", "doc_id", factors),
          "lang", "text", factors)
        .orderBy("lang")
    },
    Some("""WITH tok AS MATERIALIZED (SELECT doc_id, lang,
                    CAST(len(regexp_extract_all(lower(trim(text)), '\S+')) AS BIGINT) AS nt
                  FROM documents),
             b AS MATERIALIZED (SELECT 2 * CAST(sum(nt) AS BIGINT) AS budget FROM tok),
             s AS MATERIALIZED (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
             q AS MATERIALIZED (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 16.0) AS BIGINT) AS qf FROM s),
             t AS MATERIALIZED (SELECT *, sum(qf) OVER () AS total FROM q),
             f AS MATERIALIZED (SELECT lang, n_tokens,
                     CASE WHEN n_tokens = 0 THEN 0.0
                          ELSE CAST((SELECT budget FROM b) AS DOUBLE)
                               * (CASE WHEN total = 0 THEN 0.0
                                       ELSE CAST(qf AS DOUBLE) / CAST(total AS DOUBLE) END)
                               / n_tokens END AS repeat_factor
                   FROM t),
             d AS MATERIALIZED (SELECT tk.lang, tk.nt,
                     CAST(floor(f.repeat_factor) AS BIGINT)
                       + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(tk.doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                               < CAST(floor(f.repeat_factor * 10000.0) AS BIGINT)
                                 - CAST(floor(f.repeat_factor) AS BIGINT) * 10000
                               THEN 1 ELSE 0 END) AS n_copies
                   FROM tok tk JOIN f USING (lang)),
             o AS MATERIALIZED (SELECT lang, CAST(sum(n_copies) AS BIGINT) AS n_out_rows,
                     CAST(sum(n_copies * nt) AS BIGINT) AS out_tokens
                   FROM d WHERE n_copies > 0 GROUP BY lang)
            SELECT f.lang,
                   COALESCE(o.n_out_rows, 0) AS n_out_rows,
                   COALESCE(o.out_tokens, 0) AS out_tokens,
                   f.repeat_factor * f.n_tokens AS target_tokens,
                   CASE WHEN f.repeat_factor * f.n_tokens = 0.0 THEN NULL
                        ELSE CAST(COALESCE(o.out_tokens, 0) AS DOUBLE)
                             / (f.repeat_factor * f.n_tokens) END AS attainment
            FROM f LEFT JOIN o USING (lang)
            ORDER BY f.lang"""))

  /** Quality-aware near-dup canonicalization
    * ([[graft.ext.DupClusters.canonicalByQuality]]): x35's star
    * components re-canonicalized to each cluster's LONGEST member
    * (token count as the quality score — the published
    * keep-the-best-duplicate heuristic; truncated re-crawls are the
    * common duplicate form), id breaking ties. Oracle = x35's
    * recursive component CTE + an argmax-tokens window per cluster. */
  private val x85 = Q("x85_quality_canonical",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = MinHash.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5)
      val quality = docs.select(col("doc_id"),
        coalesce(size(graft.ext.Ngrams.normTokens(col("text"))).cast("long"),
          lit(0L)).as("q"))
      graft.ext.DupClusters.canonicalByQuality(
          graft.ext.DupClusters.connectedComponentsStars(pairs),
          quality, "doc_id", "q")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
                           JOIN sig sa ON sa.doc_id = doc_a
                           JOIN sig sb ON sb.doc_id = doc_b
                           WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 e(u, v) AS (SELECT doc_a, doc_b FROM pairs
                             UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (SELECT u, v FROM e
                                 UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
                 comp AS MATERIALIZED (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
                          FROM reach GROUP BY u),
                 qual AS MATERIALIZED (SELECT doc_id, CAST(len(w) AS BIGINT) AS q FROM toks),
                 win AS MATERIALIZED (SELECT canonical_id, doc_id AS win_id FROM (
                           SELECT c.canonical_id, c.doc_id,
                             row_number() OVER (PARTITION BY c.canonical_id
                               ORDER BY q.q DESC, c.doc_id) AS rn
                           FROM comp c JOIN qual q USING (doc_id))
                         WHERE rn = 1)
            SELECT c.doc_id, w.win_id AS canonical_id
            FROM comp c JOIN win w USING (canonical_id)
            ORDER BY c.doc_id"""))

  /** Split-leakage audit ([[graft.ext.Sampling.splitLeakage]]): the
    * near-dup pairs of x78's corpus audited against BOTH split
    * strategies in one report — the naive per-document draw leaks
    * (train, valid) pairs at sf0.01 while the cluster-safe split
    * audits to zero there BY CONSTRUCTION (no cross row appears at
    * all). Oracle = the x78 pair/component CTEs + both split rules +
    * the combination rollup. */
  private val x86 = Q("x86_split_leakage",
    (s, d) => {
      val docs = documents(s, d)
      val pairs = MinHash.nearDupPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5)
        .localCheckpoint(true) // two audits consume the pair pipeline
      val clusters = graft.ext.DupClusters.connectedComponentsStars(pairs)
      val safe = graft.ext.Sampling.clusterSafeSplit(docs, "doc_id",
        clusters, validRate = 0.1)
      val naive = docs.select(col("doc_id"),
        when(graft.ext.Sampling.hashBucket(col("doc_id")) < 1000,
          lit("valid")).otherwise(lit("train")).as("split"))
      graft.ext.Sampling.splitLeakage(pairs, naive, "doc_id", "split")
        .withColumn("strategy", lit("naive"))
        .unionByName(graft.ext.Sampling
          .splitLeakage(pairs, safe.select("doc_id", "split"), "doc_id",
            "split")
          .withColumn("strategy", lit("cluster_safe")))
        .orderBy("strategy", "split_a", "split_b")
    },
    Some("""WITH RECURSIVE
                 toks AS MATERIALIZED (SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w FROM documents),
                 sh AS MATERIALIZED (SELECT doc_id,
                          list_transform(range(0, len(w)-2), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]) AS sgl
                        FROM toks WHERE len(w) >= 3),
                 hs AS MATERIALIZED (SELECT doc_id, list_transform(sgl, s ->
                          CAST(CAST('0x'||substr(md5(s),1,15) AS UBIGINT) AS BIGINT) % 1000000007) AS hh
                        FROM sh),
                 sig AS MATERIALIZED (SELECT doc_id, list_transform(range(0,16), i ->
                           list_min(list_transform(hh, h ->
                             (((1103515245*(i+1) + 12345) % 1000000006 + 1) * h
                               + (1103515245*(i+101) + 12345) % 1000000007) % 1000000007))) AS sg
                         FROM hs),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             CAST(sg[4*b+1] AS VARCHAR)||'-'||CAST(sg[4*b+2] AS VARCHAR)
                               ||'-'||CAST(sg[4*b+3] AS VARCHAR)||'-'||CAST(sg[4*b+4] AS VARCHAR) AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM cand
                           JOIN sig sa ON sa.doc_id = doc_a
                           JOIN sig sb ON sb.doc_id = doc_b
                           WHERE len(list_filter(list_zip(sa.sg, sb.sg), x -> x[1] = x[2])) >= 8),
                 e(u, v) AS (SELECT doc_a, doc_b FROM pairs
                             UNION SELECT doc_b, doc_a FROM pairs),
                 reach(u, v) AS (SELECT u, v FROM e
                                 UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
                 comp AS MATERIALIZED (SELECT u AS doc_id, least(u, min(v)) AS canonical_id
                          FROM reach GROUP BY u),
                 naive AS MATERIALIZED (SELECT doc_id,
                             CASE WHEN CAST(CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < 1000
                                  THEN 'valid' ELSE 'train' END AS split
                           FROM documents),
                 safe AS MATERIALIZED (SELECT d.doc_id,
                            CASE WHEN CAST(CAST('0x'||substr(md5(CAST(COALESCE(c.canonical_id, d.doc_id) AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < 1000
                                 THEN 'valid' ELSE 'train' END AS split
                          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
                 audit AS MATERIALIZED (
                   SELECT 'naive' AS strategy,
                          least(na.split, nb.split) AS split_a,
                          greatest(na.split, nb.split) AS split_b,
                          CAST(count(*) AS BIGINT) AS n_pairs
                   FROM pairs p JOIN naive na ON na.doc_id = p.doc_a
                                JOIN naive nb ON nb.doc_id = p.doc_b
                   GROUP BY 2, 3
                   UNION ALL
                   SELECT 'cluster_safe',
                          least(sa.split, sb.split), greatest(sa.split, sb.split),
                          CAST(count(*) AS BIGINT)
                   FROM pairs p JOIN safe sa ON sa.doc_id = p.doc_a
                                JOIN safe sb ON sb.doc_id = p.doc_b
                   GROUP BY 2, 3)
            SELECT split_a, split_b, n_pairs, strategy FROM audit
            ORDER BY strategy, split_a, split_b"""))

  /** Shard manifest ([[graft.ext.CorpusShuffle.shardManifest]]): the
    * release-integrity artifact over x41's sharded shuffle — per shard,
    * doc count, exact token mass, the order-free XOR content
    * fingerprint, and the contiguous position range. Oracle = x41's
    * seeded ordering + the same md5-prefix/XOR arithmetic. */
  private val x87 = Q("x87_shard_manifest",
    (s, d) => {
      val docs = documents(s, d)
      CorpusShuffle.shardManifest(
          CorpusShuffle.order(docs, "doc_id", seed = "graft-shuffle-r7",
            shardSize = 128L),
          docs, "doc_id", "text")
        .orderBy("shard_id")
    },
    Some("""WITH k AS MATERIALIZED (SELECT doc_id, text,
                 md5('graft-shuffle-r7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
               FROM documents),
             p AS MATERIALIZED (SELECT doc_id, text,
                 CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS pos
               FROM k)
            SELECT CAST(pos // 128 AS BIGINT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_extract_all(lower(trim(text)), '\S+')) ) AS BIGINT) AS n_tokens,
                   bit_xor(CAST(CAST('0x'||substr(md5(md5(CAST(doc_id AS VARCHAR)) || md5(COALESCE(text, ''))),1,15) AS UBIGINT) AS BIGINT)) AS content_xor,
                   min(pos) AS pos_min, max(pos) AS pos_max
            FROM p GROUP BY 1 ORDER BY shard_id"""))

  /** The trained-classifier cascade, parameterized: `docsRel` is the
    * relation providing (doc_id, source, text[, split]); `extraCols`
    * (leading comma) threads extra columns through ctoks/occ so the
    * predicates can see them; `trainPred` restricts which token
    * occurrences TRAIN the weights; `scorePred` restricts which docs
    * are SCORED. The default instance ([[clsScoreSql]]) trains and
    * scores everything — x88/x89/x93/x94's shape; x100 trains on the
    * cluster-safe train split and scores the held-out valid split. */
  private def clsCascadeSql(docsRel: String, extraCols: String,
                            trainPred: String, scorePred: String): String =
    s"""WITH ctoks AS MATERIALIZED (
               SELECT doc_id, source$extraCols,
                      regexp_extract_all(lower(trim(text)), '\\S+') AS w
               FROM $docsRel),
             occ AS MATERIALIZED (
               SELECT doc_id, source$extraCols,
                      unnest(list_transform(generate_series(1, len(w)),
                        i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
               FROM ctoks WHERE len(w) >= 1),
             cpos AS MATERIALIZED (
               SELECT fp, CAST(count(*) AS BIGINT) AS c FROM occ
               WHERE source IN ('src0','src1','src2','src3') AND $trainPred GROUP BY 1),
             cneg AS MATERIALIZED (
               SELECT fp, CAST(count(*) AS BIGINT) AS c FROM occ
               WHERE source NOT IN ('src0','src1','src2','src3') AND $trainPred GROUP BY 1),
             tot AS MATERIALIZED (
               SELECT (SELECT COALESCE(sum(c), 0) FROM cpos) AS np,
                      (SELECT COALESCE(sum(c), 0) FROM cneg) AS nn,
                      (SELECT CAST(count(*) AS BIGINT)
                       FROM (SELECT fp FROM cpos UNION SELECT fp FROM cneg)) AS v),
             wt AS MATERIALIZED (
               SELECT u.fp,
                 CAST(floor((CAST(COALESCE(p.c, 0) + 1 AS DOUBLE) / CAST(t.np + t.v AS DOUBLE))
                      / ((CAST(COALESCE(p.c, 0) + 1 AS DOUBLE) / CAST(t.np + t.v AS DOUBLE))
                       + (CAST(COALESCE(n.c, 0) + 1 AS DOUBLE) / CAST(t.nn + t.v AS DOUBLE)))
                      * 1048576.0) AS BIGINT) AS wq
               FROM (SELECT fp FROM cpos UNION SELECT fp FROM cneg) u
               LEFT JOIN cpos p ON p.fp = u.fp
               LEFT JOIN cneg n ON n.fp = u.fp, tot t),
             wd AS MATERIALIZED (
               SELECT CAST(floor((1.0 / CAST(np + v AS DOUBLE))
                      / ((1.0 / CAST(np + v AS DOUBLE)) + (1.0 / CAST(nn + v AS DOUBLE)))
                      * 1048576.0) AS BIGINT) AS w0 FROM tot),
             csc AS MATERIALIZED (
               SELECT o.doc_id,
                      CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(sum(COALESCE(wt.wq, (SELECT w0 FROM wd))) AS BIGINT) AS w_sum_q
               FROM occ o LEFT JOIN wt ON wt.fp = o.fp
               WHERE $scorePred GROUP BY 1)"""

  /** The default instance — train and score over the whole corpus,
    * shared by x88 (in-memory fit) and x89 (store-served + gate) —
    * the x53/x54 adjudication pattern: one oracle, two checked plan
    * shapes. Curated positives = sources src0–src3, background = the
    * rest; weights are the Laplace-smoothed positive-affinity odds
    * quantized at 2²⁰ (every step a correctly rounded IEEE op — see
    * [[graft.ext.QualityClassifier]]). */
  private val clsScoreSql = clsCascadeSql("documents", "", "TRUE", "TRUE")

  private val curatedSources = Seq("src0", "src1", "src2", "src3")

  /** x88's full scoring oracle — shared verbatim by x93 (the streamed
    * store-ingest form): serve-after-stream ≡ fit-on-union, the x55
    * adjudication pattern. */
  private val clsScoreOracle = s"""$clsScoreSql
            SELECT d.doc_id,
                   CAST(COALESCE(csc.n_tokens, 0) AS BIGINT) AS n_tokens,
                   csc.w_sum_q,
                   CAST(csc.w_sum_q AS DOUBLE) / 1048576.0
                     / CAST(csc.n_tokens AS DOUBLE) AS cls_score
            FROM documents d LEFT JOIN csc ON csc.doc_id = d.doc_id
            ORDER BY d.doc_id"""

  /** Trained discriminative quality classifier
    * ([[graft.ext.QualityClassifier]] — the fastText-style
    * positive-corpus-vs-background scorer of GPT-3 appendix A /
    * LLaMA / Dolma): hashed bag-of-words Naive Bayes in the
    * positive-affinity odds form, fit on curated sources src0–src3 vs
    * the rest, scoring EVERY doc (the training split is the real
    * published shape — the classifier then judges held-in and held-out
    * mass alike). Quantized integer arithmetic end to end, so the
    * oracle replay is bit-exact; token-less docs abstain (null). */
  private val x88 = Q("x88_quality_classifier",
    (s, d) => {
      val docs = documents(s, d)
      val model = QualityClassifier.fit(
        docs.filter(col("source").isin(curatedSources: _*)),
        docs.filter(!col("source").isin(curatedSources: _*)),
        "text").localCheckpoint(true)
      QualityClassifier.score(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    },
    Some(clsScoreOracle))

  /** x88's verdicts served from a PERSISTED classifier store grown by
    * an append ([[QualityClassifier.writeClassifierStore]] on the even
    * halves of both corpora, `appendToClassifier` with the odd
    * halves), then the published composition: gate the corpus at
    * `cls_score ≥ 0.5` ([[QualityClassifier.gateAgainstStore]] — the
    * GPT-3 keep rule; abstainers keep). One checked query proves
    * store-served ≡ in-memory, append-then-serve ≡ fit-on-union, and
    * the gate — the x54/x55 adjudication pair folded into one. */
  private val x89 = Q("x89_classifier_store_gate",
    (s, d) => {
      val docs = documents(s, d)
      val pos = docs.filter(col("source").isin(curatedSources: _*))
      val neg = docs.filter(!col("source").isin(curatedSources: _*))
      QualityClassifier.writeClassifierStore(
        pos.filter(col("doc_id") % 2 === 0),
        neg.filter(col("doc_id") % 2 === 0), "text", "x89_cls", buckets = 8)
      QualityClassifier.appendToClassifier(
        pos.filter(col("doc_id") % 2 =!= 0),
        neg.filter(col("doc_id") % 2 =!= 0), "text", "x89_cls", buckets = 8,
        batchId = 0L)
      QualityClassifier.gateAgainstStore(
          docs.select(col("doc_id"), col("source"), col("text")),
          "doc_id", "text", "x89_cls", minScore = 0.5)
        .select(col("doc_id"), col("source"), col("cls_score"))
        .orderBy("doc_id")
    },
    Some(s"""$clsScoreSql
            SELECT d.doc_id, d.source,
                   CAST(csc.w_sum_q AS DOUBLE) / 1048576.0
                     / CAST(csc.n_tokens AS DOUBLE) AS cls_score
            FROM documents d LEFT JOIN csc ON csc.doc_id = d.doc_id
            WHERE csc.w_sum_q IS NULL
               OR CAST(csc.w_sum_q AS DOUBLE) / 1048576.0
                    / CAST(csc.n_tokens AS DOUBLE) >= 0.5
            ORDER BY d.doc_id"""))

  /** Stage 7 under x90's CLASSIFIER seam: the trained
    * positive-vs-background scorer gating the cleaned corpus at the
    * absolute 0.5 threshold — the GPT-3 keep rule. The model CTE chain
    * is [[clsScoreSql]] SPLICED IN VERBATIM (one copy of the
    * bit-exactness-critical Laplace/quantizer arithmetic across
    * x88/x89/x93/x94 and this oracle — review finding, round 18; its
    * raw-doc scoring CTEs ride along unused and cost sub-second), plus
    * the genuinely new part: scoring s6's CLEANED text against the
    * shared wt/wd weight relations and the threshold cut. Same prefix
    * and mixture tail as x66, so the two configurations' oracles
    * differ ONLY here. */
  private val recipeClassifierTailSql = clsScoreSql.stripPrefix("WITH ") + """,
             -- ==== stage 7 (x90 seam): trained classifier threshold gate (GPT-3 rule) ====
             socc AS MATERIALIZED (
               SELECT doc_id,
                      unnest(list_transform(generate_series(1, len(w)),
                        i -> CAST(CAST('0x'||substr(md5(w[i]),1,15) AS UBIGINT) AS BIGINT))) AS fp
               FROM (SELECT doc_id,
                            regexp_extract_all(lower(trim(ctext)), '\S+') AS w
                     FROM s6) WHERE len(w) >= 1),
             qsc AS MATERIALIZED (
               SELECT o.doc_id,
                      CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(sum(COALESCE(wt.wq, (SELECT w0 FROM wd))) AS BIGINT) AS w_sum_q
               FROM socc o LEFT JOIN wt ON wt.fp = o.fp GROUP BY 1),
             s7 AS MATERIALIZED (
               SELECT s6.doc_id, s6.lang, s6.source, s6.ctext
               FROM s6 LEFT JOIN qsc ON qsc.doc_id = s6.doc_id
               WHERE qsc.w_sum_q IS NULL
                  OR CAST(qsc.w_sum_q AS DOUBLE) / 1048576.0
                       / CAST(qsc.n_tokens AS DOUBLE) >= 0.5)"""

  /** The full recipe under the CLASSIFIER quality seam
    * ([[Curation.ClassifierGate]] — the GPT-3/Dolma configuration):
    * same corpus, same stores, same stages 1–6 and the same mixture
    * tail as x66, with stage 7 swapped from the CCNet LM-top-fraction
    * to the trained discriminative threshold gate. One checked config
    * proving the seam composes: the oracle shares x66's prefix and
    * mixture SQL verbatim, so any divergence is the seam's. */
  private val x90 = Q("x90_recipe_classifier_gate",
    (s, d) => {
      val (corpus, emb) = recipeSetup(s, d)
      val docs = documents(s, d)
      QualityClassifier.writeClassifierStore(
        docs.filter(col("source").isin(curatedSources: _*)),
        docs.filter(!col("source").isin(curatedSources: _*)),
        "text", "x90_cls", buckets = 8)
      Curation.batchRecipe(corpus, "doc_id", "text", "lang", "source",
          emb, "embedding", "x66_bench", "x66_model", recipeParams,
          quality = Some(Curation.ClassifierGate("x90_cls", minScore = 0.5)))
        .orderBy("doc_id", "copy_idx")
    },
    Some(recipeCascadePrefixSql + "," + recipeClassifierTailSql + "," +
      recipeMixtureTailSql))

  /** CCNet language routing with the confidence gate
    * ([[Curation.languageRoutedBuckets]] — completes the published
    * triple: x02 langid → x73 per-language perplexity terciles → the
    * confidence abstain): docs are routed by the x02 argmax ONLY when
    * the winning score clears 0.05; below it the doc abstains (null
    * route, null bucket) instead of contaminating some language's
    * tercile ranking. Buckets are dealt per ROUTE over the x53 LM
    * score with the ntile total order (score DESC, doc_id), and a
    * bucket exists only under both verdicts — confident route AND
    * non-null score. */
  private val x91 = Q("x91_ccnet_langid_route",
    (s, d) => {
      val docs = documents(s, d)
      val model = graft.ext.LmScore.fit(
        docs.filter(col("doc_id") % 10 =!= 0), "text").localCheckpoint(true)
      val scored = graft.ext.LmScore.score(docs, "doc_id", "text", model)
        .select(col("doc_id"), col("lm_score"))
      Curation.languageRoutedBuckets(
          docs.select(col("doc_id"), col("text")).join(scored, Seq("doc_id")),
          "doc_id", "text", "lm_score", minConfidence = 0.05, nBuckets = 3)
        .select(col("doc_id"), col("confidence"), col("route"),
          col("lm_score"), col("bucket"))
        .orderBy("doc_id")
    },
    Some(s"""$lmCascadeSql,
             lt AS MATERIALIZED (SELECT doc_id, text,
                    regexp_extract_all(lower(text), '[a-z]+') AS ltoks
                  FROM documents),
             lsc AS MATERIALIZED (SELECT doc_id,
                    CASE WHEN len(ltoks) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(ltoks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','zu','den'))) AS DOUBLE) / len(ltoks) END AS s_de,
                    CASE WHEN len(ltoks) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(ltoks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) / len(ltoks) END AS s_en,
                    CASE WHEN len(ltoks) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(ltoks, x -> x IN ('el','la','que','y','en','un','es','los','se','del'))) AS DOUBLE) / len(ltoks) END AS s_es,
                    CASE WHEN len(ltoks) = 0 THEN 0.0
                         ELSE CAST(len(list_filter(ltoks, x -> x IN ('le','la','et','un','que','pour','dans','ce','une','sur'))) AS DOUBLE) / len(ltoks) END AS s_fr,
                    CASE WHEN length(text) = 0 THEN 0.0
                         ELSE CAST(length(regexp_replace(text, '[\\x00-\\x7f]', '', 'g')) AS DOUBLE) / length(text) END AS s_zh
                  FROM lt),
             rt AS MATERIALIZED (SELECT l.doc_id,
                    greatest(s_de, s_en, s_es, s_fr, s_zh) AS confidence,
                    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) >= 0.05 THEN
                      CASE WHEN s_de >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
                           WHEN s_en >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                           WHEN s_es >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                           WHEN s_fr >= greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                           ELSE 'zh' END
                    END AS route,
                    CAST(sc.p_sum_q AS DOUBLE) / 1073741824.0
                      / CAST(sc.n_bigrams AS DOUBLE) AS lm_score
                  FROM lsc l LEFT JOIN sc ON sc.doc_id = l.doc_id)
            SELECT doc_id, confidence, route, lm_score,
                   CAST(ntile(3) OVER (PARTITION BY route
                     ORDER BY lm_score DESC, doc_id) AS BIGINT) AS bucket
            FROM rt WHERE route IS NOT NULL AND lm_score IS NOT NULL
            UNION ALL
            SELECT doc_id, confidence, route, lm_score,
                   CAST(NULL AS BIGINT) AS bucket
            FROM rt WHERE route IS NULL OR lm_score IS NULL
            ORDER BY doc_id"""))

  /** Shard-manifest VERIFICATION ([[CorpusShuffle.verifyShards]] —
    * x87's consumer side, the x84/x86 audit discipline): the release
    * manifest is built over the pristine corpus, the "received" shard
    * set carries one tampered document (doc 42's text replaced), and
    * the verdict table must flag EXACTLY that document's shard as a
    * mismatch with the first differing field named (the tamper changes
    * the token count, so `n_tokens` — checked before the xor in the
    * diagnosis order) while every other shard reads `ok`. Full-outer
    * verdicts: a missing or unexpected shard would surface as its own
    * row (the spec exercises those arms). */
  private val x92 = Q("x92_shard_verify",
    (s, d) => {
      val docs = documents(s, d)
      val manifest = CorpusShuffle.shardManifest(
        CorpusShuffle.order(docs, "doc_id", seed = "graft-shuffle-r7",
          shardSize = 128L),
        docs, "doc_id", "text").localCheckpoint(true)
      val tampered = docs.withColumn("text",
        when(col("doc_id") === 42L, lit("tampered")).otherwise(col("text")))
      CorpusShuffle.verifyShards(manifest,
          CorpusShuffle.order(tampered, "doc_id", seed = "graft-shuffle-r7",
            shardSize = 128L),
          tampered, "doc_id", "text")
        .orderBy("shard_id")
    },
    Some("""WITH k AS MATERIALIZED (SELECT doc_id, text,
                 md5('graft-shuffle-r7:' || CAST(doc_id AS VARCHAR)) AS sk
               FROM documents),
             p0 AS MATERIALIZED (SELECT doc_id, text,
                 CAST(row_number() OVER (ORDER BY sk) - 1 AS BIGINT) AS pos
               FROM k),
             mp AS MATERIALIZED (
               SELECT CAST(pos // 128 AS BIGINT) AS shard_id,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(len(regexp_extract_all(lower(trim(text)), '\S+'))) AS BIGINT) AS n_tokens,
                      bit_xor(CAST(CAST('0x'||substr(md5(md5(CAST(doc_id AS VARCHAR)) || md5(COALESCE(text, ''))),1,15) AS UBIGINT) AS BIGINT)) AS content_xor,
                      min(pos) AS pos_min, max(pos) AS pos_max
               FROM p0 GROUP BY 1),
             tp AS MATERIALIZED (SELECT doc_id,
                 CASE WHEN doc_id = 42 THEN 'tampered' ELSE text END AS text,
                 pos
               FROM p0),
             ma AS MATERIALIZED (
               SELECT CAST(pos // 128 AS BIGINT) AS shard_id,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(len(regexp_extract_all(lower(trim(text)), '\S+'))) AS BIGINT) AS n_tokens,
                      bit_xor(CAST(CAST('0x'||substr(md5(md5(CAST(doc_id AS VARCHAR)) || md5(COALESCE(text, ''))),1,15) AS UBIGINT) AS BIGINT)) AS content_xor,
                      min(pos) AS pos_min, max(pos) AS pos_max
               FROM tp GROUP BY 1),
             j AS MATERIALIZED (
               SELECT COALESCE(m.shard_id, a.shard_id) AS shard_id,
                      m.shard_id AS ms, a.shard_id AS asd,
                      CASE WHEN m.n_docs IS DISTINCT FROM a.n_docs THEN 'n_docs'
                           WHEN m.n_tokens IS DISTINCT FROM a.n_tokens THEN 'n_tokens'
                           WHEN m.content_xor IS DISTINCT FROM a.content_xor THEN 'content_xor'
                           WHEN m.pos_min IS DISTINCT FROM a.pos_min THEN 'pos_min'
                           WHEN m.pos_max IS DISTINCT FROM a.pos_max THEN 'pos_max'
                      END AS fd
               FROM mp m FULL OUTER JOIN ma a ON m.shard_id = a.shard_id)
            SELECT shard_id,
                   CASE WHEN ms IS NULL THEN 'unexpected'
                        WHEN asd IS NULL THEN 'missing'
                        WHEN fd IS NOT NULL THEN 'mismatch'
                        ELSE 'ok' END AS status,
                   CASE WHEN ms IS NOT NULL AND asd IS NOT NULL THEN fd
                   END AS first_diff
            FROM j ORDER BY shard_id"""))

  /** The classifier store grown by a STREAM of labeled training waves
    * ([[QualityClassifier.streamIngestClassifier]] — completing the
    * batch + streamed ingest symmetry the engine's other five store
    * families share): a %3 seed build, two labeled file-source waves
    * through the checkpointed stream (each wave mixes positives and
    * background — the labeled-frame grain a stream actually delivers)
    * with decay-triggered in-loop compaction, then the served scoring —
    * which must equal x88's fit-on-everything answer; the oracle IS
    * x88's. Count deltas are not idempotent, so the ingest runs the
    * two-phase intent/record ledger (the x55 protocol). */
  private val x93 = Q("x93_stream_classifier_ingest",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x93-")
      val in = root.resolve("in"); val chk = s"$root/chk"
      val docs = documents(s, d)
      val labeled = docs.select(col("doc_id"),
        when(col("source").isin(curatedSources: _*), lit(1))
          .otherwise(lit(0)).as("label"),
        col("text"))
      val stream = graft.util.Staging.stagedStream(in,
          Seq(labeled.filter(col("doc_id") % 3 === 1),
            labeled.filter(col("doc_id") % 3 === 2)))(
        QualityClassifier.writeClassifierStore(
          labeled.filter(col("label") === 1 && col("doc_id") % 3 === 0)
            .select("doc_id", "text"),
          labeled.filter(col("label") === 0 && col("doc_id") % 3 === 0)
            .select("doc_id", "text"),
          "text", "x93_cls", buckets = 8))
      QualityClassifier.streamIngestClassifier(stream, "label", "text",
          "x93_cls", buckets = 8, checkpoint = chk, maxFilesPerBucket = 1)
        .awaitTermination()
      // the loop appended + compacted in its foreachBatch session clone;
      // refresh this outer session's stale relation caches (the
      // Bucketing.replaceBucketed cross-session convention)
      s.catalog.refreshTable("x93_cls")
      s.catalog.refreshTable(QualityClassifier.classifierMeta("x93_cls"))
      QualityClassifier.scoreAgainstStore(docs, "doc_id", "text", "x93_cls")
        .orderBy("doc_id")
    },
    Some(clsScoreOracle))

  /** Quality-signal agreement audit ([[Curation.rankAgreement]] — the
    * cross-check between the engine's two quality families): per
    * source, the deterministic Spearman rho between the x53 generative
    * LM score and the x88 discriminative classifier score, over docs
    * where both signals exist. Ranks are row_number on the
    * (score, doc_id) total order; Σd² summed in exact decimal(38,0)
    * internally and EMITTED as bigint (a decimal-typed output column
    * fails the driver's string compare — the round-18 x94 lesson);
    * rho one correctly rounded division — bit-exact replay. A source
    * ranking near −1 is a filter-disagreement alarm, the audit's
    * point. */
  private val x94 = Q("x94_signal_agreement",
    (s, d) => {
      val docs = documents(s, d)
      val lmModel = graft.ext.LmScore.fit(
        docs.filter(col("doc_id") % 10 =!= 0), "text").localCheckpoint(true)
      val lm = graft.ext.LmScore.score(docs, "doc_id", "text", lmModel)
        .select(col("doc_id"), col("lm_score"))
      val clsModel = QualityClassifier.fit(
        docs.filter(col("source").isin(curatedSources: _*)),
        docs.filter(!col("source").isin(curatedSources: _*)),
        "text").localCheckpoint(true)
      val cls = QualityClassifier.score(docs, "doc_id", "text", clsModel)
        .select(col("doc_id"), col("cls_score"))
      Curation.rankAgreement(
          docs.select(col("doc_id"), col("source"))
            .join(lm, Seq("doc_id"), "left")
            .join(cls, Seq("doc_id"), "left"),
          "source", "lm_score", "cls_score", "doc_id")
        .orderBy("source")
    },
    Some(s"""$lmCascadeSql,
             ${clsScoreSql.stripPrefix("WITH ")},
             sigs AS MATERIALIZED (
               SELECT d.doc_id, d.source,
                      CAST(sc.p_sum_q AS DOUBLE) / 1073741824.0
                        / CAST(sc.n_bigrams AS DOUBLE) AS lm_score,
                      CAST(csc.w_sum_q AS DOUBLE) / 1048576.0
                        / CAST(csc.n_tokens AS DOUBLE) AS cls_score
               FROM documents d
               LEFT JOIN sc ON sc.doc_id = d.doc_id
               LEFT JOIN csc ON csc.doc_id = d.doc_id),
             rk AS MATERIALIZED (
               SELECT source,
                      CAST(row_number() OVER (PARTITION BY source
                        ORDER BY lm_score, doc_id) AS BIGINT) AS ra,
                      CAST(row_number() OVER (PARTITION BY source
                        ORDER BY cls_score, doc_id) AS BIGINT) AS rb
               FROM sigs
               WHERE lm_score IS NOT NULL AND cls_score IS NOT NULL),
             agr AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
               FROM rk GROUP BY 1)
            SELECT source, n_docs, sum_d2,
                   CASE WHEN n_docs > 1 THEN
                     1.0 - CAST(sum_d2 AS DOUBLE) * 6.0
                           / (CAST(n_docs AS DOUBLE)
                              * (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE) - 1.0))
                   END AS rho
            FROM agr ORDER BY source"""))

  /** Per-source PII audit ([[Pii.audit]] — the data-card privacy
    * section over x40's seeded corpus): per source, the redacted-span
    * counts per class (the sequential-redaction counting, so totals ≡
    * the placeholders [[Pii.redact]] inserts), the count of documents
    * carrying any PII, and the PII-document rate. Same deterministic
    * seeding as x40 so every class provably occurs. */
  private val x95 = Q("x95_pii_audit",
    (s, d) => {
      val id = col("doc_id")
      val seeded = documents(s, d).withColumn("__seeded", concat(
        col("text"),
        when(id % 5 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@example.com"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" from 10.0."), (id % 256).cast("string"),
          lit("."), expr("(doc_id DIV 7) % 256").cast("string"))).otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))).otherwise(lit(""))))
      Pii.audit(seeded, "doc_id", "__seeded", "source").orderBy("source")
    },
    Some("""WITH seeded AS MATERIALIZED (SELECT doc_id, source, text
                 || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END
                 || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                 AS t FROM documents),
            pr2 AS MATERIALIZED (SELECT doc_id, source,
                     CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS ne,
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                   FROM seeded),
            pr3 AS MATERIALIZED (SELECT doc_id, source, ne,
                     CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ni,
                     regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
                   FROM pr2),
            pr4 AS MATERIALIZED (SELECT doc_id, source, ne, ni,
                     CAST(len(regexp_extract_all(t2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS np
                   FROM pr3)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ne) AS BIGINT) AS n_emails,
                   CAST(sum(ni) AS BIGINT) AS n_ips,
                   CAST(sum(np) AS BIGINT) AS n_phones,
                   CAST(count(CASE WHEN ne + ni + np > 0 THEN 1 END) AS BIGINT) AS docs_with_pii,
                   CAST(count(CASE WHEN ne + ni + np > 0 THEN 1 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS pii_doc_rate
            FROM pr4 GROUP BY source ORDER BY source"""))

  /** Vocabulary coverage curve ([[graft.ext.Vocab.coverageCurve]] —
    * the Zipf analysis that sizes a tokenizer's vocabulary): per
    * requested k, the exact fraction of all token occurrences the
    * top-k vocabulary covers. The ranking is the x26 distributed
    * prefix sum over the (count desc, term) range order — never a
    * single-partition window — and the 100000 entry exercises the
    * k > |vocab| clamp. */
  private val x96 = Q("x96_vocab_coverage",
    (s, d) => Vocab.coverageCurve(documents(s, d), "text",
        Seq(10, 100, 1000, 100000))
      .orderBy("k"),
    Some("""WITH tc AS MATERIALIZED (
               SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
                 SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
                 FROM documents) GROUP BY 1),
             rk AS MATERIALIZED (
               SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS rank,
                      CAST(sum(cnt) OVER (ORDER BY cnt DESC, term ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM tc),
             tot AS MATERIALIZED (
               SELECT CAST(count(*) AS BIGINT) AS n_terms,
                      CAST(COALESCE(sum(cnt), 0) AS BIGINT) AS total
               FROM tc)
            SELECT k, least(CAST(k AS BIGINT), tot.n_terms) AS n_terms,
                   COALESCE(rk.cum, 0) AS covered, tot.total AS total,
                   CASE WHEN tot.total = 0 THEN 0.0
                        ELSE CAST(COALESCE(rk.cum, 0) AS DOUBLE)
                             / CAST(tot.total AS DOUBLE) END AS coverage
            FROM (VALUES (10), (100), (1000), (100000)) AS t(k)
            CROSS JOIN tot
            LEFT JOIN rk ON rk.rank = least(CAST(k AS BIGINT), tot.n_terms)
            ORDER BY k"""))

  /** Per-source duplicate-rate card ([[graft.ext.DataCard.dupRates]] —
    * the data-sheet section the incremental counter store deliberately
    * omits because distinct counts are not delta-additive; as a batch
    * release audit it is exactly computable). The corpus carries the
    * x66-convention re-crawl twins so the rate provably bites. */
  private val x97 = Q("x97_dup_rate_card",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          col("text")))
      graft.ext.DataCard.dupRates(corpus, "text", "source")
        .orderBy("source")
    },
    Some("""WITH corpus AS MATERIALIZED (
               SELECT doc_id, source, text FROM documents
               UNION ALL
               SELECT doc_id + 100000, source, text FROM documents
               WHERE doc_id % 7 = 0),
             f AS MATERIALIZED (
               SELECT source,
                      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
               FROM corpus)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(fp) AS BIGINT) AS n_fingerprinted,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
                   CASE WHEN count(fp) = 0 THEN 0.0
                        ELSE 1.0 - CAST(count(DISTINCT fp) AS DOUBLE)
                             / CAST(count(fp) AS DOUBLE) END AS dup_rate
            FROM f GROUP BY source ORDER BY source"""))

  /** Exact-k per-stratum sample ([[graft.ext.Sampling.exactKPerStratum]]
    * — the fixed-size draw eval-set construction needs: exactly 7 docs
    * per source under a seeded, reproducible md5 permutation; each
    * sf0.01 source holds 25 docs, so the cut bites everywhere). */
  private val x98 = Q("x98_exact_k_sample",
    (s, d) => graft.ext.Sampling.exactKPerStratum(
        documents(s, d).select(col("doc_id"), col("source")),
        "source", "doc_id", k = 7, seed = "graft-eval-r18")
      .orderBy("source", "doc_id"),
    Some("""SELECT doc_id, source FROM (
              SELECT doc_id, source, row_number() OVER (PARTITION BY source
                ORDER BY md5('graft-eval-r18:' || CAST(doc_id AS VARCHAR)),
                         doc_id) AS rk
              FROM documents) WHERE rk <= 7
            ORDER BY source, doc_id"""))

  /** Contamination SEVERITY report
    * ([[Decontaminate.contaminationSeverity]] — the run-length grain
    * x19/x52's flat overlap fraction cannot express: scattered
    * boilerplate 8-grams vs one contiguous verbatim eval block — the
    * published cuts key on run length, GPT-3's 13-gram windows and
    * ExactSubstr's 50-token spans): per doc vs the %10 benchmark
    * store, total gram positions, shared positions, the longest
    * consecutive shared run (the islands idiom: `pos − row_number` is
    * constant on each maximal run), and its token length. The %10
    * docs themselves sit in the corpus, so full-document runs provably
    * occur next to partial ones. */
  private val x99 = Q("x99_contamination_severity",
    (s, d) => {
      val docs = documents(s, d)
      Decontaminate.writeBenchmarkStore(docs.filter(col("doc_id") % 10 === 0),
        "text", n = 8, table = "x99_bench", buckets = 8)
      Decontaminate.contaminationSeverity(docs, "doc_id", "text", "x99_bench")
        .orderBy("doc_id")
    },
    Some("""WITH bw AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w
               FROM documents WHERE doc_id % 10 = 0),
             evg AS MATERIALIZED (SELECT DISTINCT gram_fp FROM (
               SELECT unnest(list_transform(generate_series(1, len(w)-7),
                 i -> CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT))) AS gram_fp
               FROM bw WHERE len(w) >= 8)),
             tw AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w
               FROM documents),
             pg AS MATERIALIZED (
               SELECT doc_id, u.g.p AS pos, u.g.f AS gram_fp
               FROM tw, unnest(list_transform(generate_series(1, len(w)-7),
                 i -> {'p': CAST(i - 1 AS BIGINT),
                       'f': CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15) AS UBIGINT) AS BIGINT)})) AS u(g)
               WHERE len(w) >= 8),
             sev_tot AS MATERIALIZED (
               SELECT d.doc_id, CAST(COALESCE(cnt.c, 0) AS BIGINT) AS n_grams
               FROM documents d LEFT JOIN (
                 SELECT doc_id, count(*) AS c FROM pg GROUP BY 1) cnt
                 ON cnt.doc_id = d.doc_id),
             sev_sh AS MATERIALIZED (
               SELECT pg.doc_id, pg.pos FROM pg JOIN evg USING (gram_fp)),
             sev_isl AS MATERIALIZED (
               SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id
                 ORDER BY pos) AS island
               FROM sev_sh),
             sev_runs AS MATERIALIZED (
               SELECT doc_id, island, CAST(count(*) AS BIGINT) AS run
               FROM sev_isl GROUP BY 1, 2),
             sev_agg AS MATERIALIZED (
               SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_shared,
                      CAST(max(run) AS BIGINT) AS max_run
               FROM sev_runs GROUP BY 1)
            SELECT t.doc_id, t.n_grams,
                   COALESCE(a.n_shared, 0) AS n_shared,
                   COALESCE(a.max_run, 0) AS max_run,
                   CAST(CASE WHEN COALESCE(a.max_run, 0) = 0 THEN 0
                        ELSE a.max_run + 7 END AS BIGINT) AS max_run_tokens
            FROM sev_tot t LEFT JOIN sev_agg a ON a.doc_id = t.doc_id
            ORDER BY t.doc_id"""))

  /** CLASSIFIER CALIBRATION audit ([[Curation.reliabilityTable]] over
    * the x88 trained signal, judged on x78's cluster-safe holdout —
    * the x94 audit discipline applied to the newest gate): the
    * classifier fits on the TRAIN split only (curated src0–src3 vs
    * the rest), scores the held-out VALID split, and the table reports
    * per score-decile (n_docs, n_pos, pos_rate, mean_score). A
    * calibrated signal shows pos_rate climbing with the decile; flat
    * or inverted = the x90 gate is thresholding noise. The split is
    * cluster-safe BY CONSTRUCTION (no near-dup pair straddles the
    * boundary — x78/x86), so memorized near-duplicates of training
    * docs cannot flatter the audit. Deciles are dealt by the
    * distributed global rank `(rank−1)·10/n + 1` over the
    * (cls_score, doc_id) total order — integer arithmetic replayed by
    * the oracle's `//`; mean_score sums the 2²⁰-quantized per-doc
    * scores (exact int64) and divides once. */
  private val x100 = Q("x100_classifier_calibration",
    (s, d) => {
      val docs = documents(s, d)
      val split = graft.ext.Sampling.clusterSafeSplit(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, nBands = 4, minJaccard = 0.5,
        validRate = 0.1).localCheckpoint(true)
      val train = split.filter(col("split") === "train")
      val model = QualityClassifier.fit(
        train.filter(col("source").isin(curatedSources: _*)),
        train.filter(!col("source").isin(curatedSources: _*)),
        "text").localCheckpoint(true)
      val valid = split.filter(col("split") === "valid")
      // source comes from the (checkpointed, ~validRate-sized) valid
      // slice itself — clusterSafeSplit preserves input columns, so
      // joining the full corpus back in would be a wasted
      // corpus-proportional shuffle (review finding, round 19)
      val scored = QualityClassifier.score(valid, "doc_id", "text", model)
        .join(valid.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("is_pos", col("source").isin(curatedSources: _*))
      Curation.reliabilityTable(scored, "doc_id", "cls_score", "is_pos",
          nBuckets = 10)
        .orderBy("bucket")
    },
    Some(s"""WITH RECURSIVE
             $splitCascadeSql,
             ${clsCascadeSql("sp", ", split", "split = 'train'",
               "o.split = 'valid'").stripPrefix("WITH ")},
             lab AS MATERIALIZED (
               SELECT s.doc_id,
                      s.source IN ('src0','src1','src2','src3') AS is_pos,
                      CAST(csc.w_sum_q AS DOUBLE) / 1048576.0
                        / CAST(csc.n_tokens AS DOUBLE) AS cls_score
               FROM sp s JOIN csc ON csc.doc_id = s.doc_id
               WHERE s.split = 'valid'),
             rnk AS MATERIALIZED (
               SELECT is_pos, cls_score,
                      CAST(row_number() OVER (ORDER BY cls_score, doc_id) AS BIGINT) AS r,
                      CAST(count(*) OVER () AS BIGINT) AS n
               FROM lab WHERE cls_score IS NOT NULL)
            SELECT CAST((r - 1) * 10 // n + 1 AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                   CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS pos_rate,
                   CAST(sum(CAST(floor(cls_score * 1048576.0) AS BIGINT)) AS DOUBLE)
                     / 1048576.0 / CAST(count(*) AS DOUBLE) AS mean_score
            FROM rnk GROUP BY 1 ORDER BY bucket"""))

  /** MULTIMODAL NEAR-DUP dedup — the composition the engine had both
    * halves of but never joined: codec feature extraction
    * ([[Multimodal.extractFeatures]], x14's mapPartitions plumbing) →
    * hyperplane signatures → banded buckets → exact cosine confirm
    * ([[Similarity.nearDupPairs]], x12's shape) — image/frame dedup as
    * every published multimodal pipeline runs it (embed, then the
    * text-dedup machinery verbatim). Seeded fixture: per decade of
    * doc_ids, `%10 ∈ {0,1}` carry an IDENTICAL payload (the dup pair
    * the composition must find, cosine = 1), `%10 = 2` carries that
    * payload plus ONE byte — NEAR-identical bytes. The stub codec is a
    * content HASH ([[Multimodal.FakeCodec]]), so the one-byte
    * perturbation yields an unrelated vector and must NOT pair: the
    * fixture pins exactly where the stub's fidelity ends (a real
    * vision codec maps near-identical pixels to near-identical
    * vectors and WOULD pair it — swap the codec, keep the plumbing).
    * Features come from [[Multimodal.MixedCodec]], not the x14 stub —
    * measured: the LCG stub's affine-ramp embeddings are
    * near-collinear (12,186 of 124,750 pairs at cosine ≥ 0.95 at
    * sf0.01 — a meaningless dup verdict AND a banded-join hot-bucket
    * hazard); the md5-mixed coordinates give distinct payloads
    * near-orthogonal vectors, so the verdict means "same content".
    * Scale shape: x12's — banded self-join candidates, never
    * all-pairs; decode/embed narrow per-partition. */
  private val x101 = Q("x101_multimodal_neardup",
    (s, d) => {
      val payload = when(col("doc_id") % 10 <= 1,
          concat(lit("shared-"), expr("doc_id DIV 10").cast("string")))
        .when(col("doc_id") % 10 === 2,
          concat(lit("shared-"), expr("doc_id DIV 10").cast("string"),
            lit("!")))
        .otherwise(concat(col("text"), col("doc_id").cast("string")))
      val docs = documents(s, d)
        .withColumn("payload", payload.cast("binary"))
      val emb = Multimodal.extractFeatures(s, docs, "doc_id", "payload",
        dim = 16, codec = Multimodal.MixedCodec)
      Similarity.nearDupPairs(emb, "doc_id", "embedding",
          minCosine = 0.95, nBands = 4, bandBits = 4, dim = 16)
        .orderBy("vec_a", "vec_b")
    },
    Some("""WITH pay AS MATERIALIZED (SELECT doc_id,
                   CASE WHEN doc_id % 10 <= 1 THEN 'shared-' || CAST(doc_id // 10 AS VARCHAR)
                        WHEN doc_id % 10 = 2 THEN 'shared-' || CAST(doc_id // 10 AS VARCHAR) || '!'
                        ELSE text || CAST(doc_id AS VARCHAR) END AS payload
                 FROM documents),
                 raw AS MATERIALIZED (SELECT doc_id,
                   list_transform(range(0,16), j ->
                     CAST(CAST(CAST('0x'||substr(md5(payload || ':' || CAST(j AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                          % 2147483648 AS DOUBLE)
                     / 2147483648.0 * 2 - 1) AS v
                 FROM pay),
                 emb AS MATERIALIZED (SELECT doc_id,
                           CASE WHEN n = 0 THEN v
                                ELSE list_transform(v, x -> x / n) END AS e
                         FROM (SELECT doc_id, v,
                                 sqrt(list_sum(list_transform(v, y -> y*y))) AS n
                               FROM raw)),
                 sig AS MATERIALIZED (SELECT doc_id, e,
                   list_transform(range(0,16), p -> CASE WHEN
                     list_sum(list_transform(list_zip(e, range(0,16)),
                       x -> CAST(x[1] AS DOUBLE) *
                            (CAST((1103515245*(p*16 + x[2]) + 12345) % 2147483648 AS DOUBLE)
                             / 2147483648.0 * 2 - 1))) >= 0
                     THEN 1 ELSE 0 END) AS sg
                 FROM emb),
                 bands AS MATERIALIZED (SELECT doc_id, b,
                             sg[4*b+1]*8 + sg[4*b+2]*4 + sg[4*b+3]*2 + sg[4*b+4] AS bk
                           FROM sig, (SELECT unnest(range(0,4)) AS b)),
                 cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS vec_a, b.doc_id AS vec_b
                          FROM bands a JOIN bands b
                            ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
                 scored AS MATERIALIZED (SELECT vec_a, vec_b,
                     list_sum(list_transform(list_zip(ea.e, eb.e),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(ea.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(eb.e, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
                   FROM cand JOIN emb ea ON ea.doc_id = vec_a
                             JOIN emb eb ON eb.doc_id = vec_b)
            SELECT vec_a, vec_b, cos FROM scored
            WHERE cos >= 0.95 ORDER BY vec_a, vec_b"""))

  /** The BPE training replay, generated per round: `w0` = the
    * word-type table with character+`</w>` symbols, then per merge
    * round r — overlap-counted weighted pair counts (`pc_r`), the
    * `(count desc, lhs, rhs)` top-1 (`top_r`), and the greedy
    * left-to-right application (`w_r`) as a `list_reduce` fold over
    * the space-joined symbol string (symbols are `[a-z]`/`</w>` only,
    * so the space separator and the `LIKE '% '||lhs` last-symbol test
    * are unambiguous — [[graft.ext.Bpe]]'s documented invariant; an
    * empty `top_r` null-extends through the `LEFT JOIN ON TRUE` and
    * the fold is skipped, replaying early stop). */
  private def bpeCascadeSql(k: Int, minPairCount: Long): String = {
    val sb = new StringBuilder
    sb.append("""w0 AS MATERIALIZED (
               SELECT word, CAST(count(*) AS BIGINT) AS cnt,
                      list_transform(generate_series(1, length(word)),
                        i -> substr(word, i, 1)) || ['</w>'] AS syms
               FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                     FROM documents)
               GROUP BY 1)""")
    for (r <- 1 to k) {
      sb.append(s""",
             pos$r AS MATERIALIZED (
               SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
               FROM w${r - 1} WHERE len(syms) > 1),
             pc$r AS MATERIALIZED (
               SELECT syms[i] AS lhs, syms[i+1] AS rhs,
                      CAST(sum(cnt) AS BIGINT) AS c
               FROM pos$r GROUP BY 1, 2),
             top$r AS MATERIALIZED (
               SELECT lhs, rhs, c FROM pc$r WHERE c >= $minPairCount
               ORDER BY c DESC, lhs, rhs LIMIT 1),
             w$r AS MATERIALIZED (
               SELECT word, cnt,
                 CASE WHEN t.lhs IS NULL THEN syms
                      ELSE string_split(list_reduce(syms, (acc, s) ->
                        CASE WHEN s = t.rhs
                              AND (acc = t.lhs OR acc LIKE '%' || ' ' || t.lhs)
                             THEN CASE WHEN acc = t.lhs THEN t.lhs || t.rhs
                                  ELSE left(acc, length(acc) - length(t.lhs))
                                       || t.lhs || t.rhs END
                             ELSE acc || ' ' || s END), ' ')
                 END AS syms
               FROM w${r - 1} LEFT JOIN top$r t ON true)""")
    }
    sb.result()
  }

  private val bpeK = 8
  private val bpeMergeTableSql = (1 to bpeK)
    .map(r => s"SELECT CAST($r AS INTEGER) AS step, lhs, rhs, c AS pair_count FROM top$r")
    .mkString("\n            UNION ALL ")

  /** BPE MERGE TRAINING ([[Bpe.fitMerges]] — the tokenizer-construction
    * step x96's coverage curve sizes but nothing built): 8 greedy
    * merges over the corpus word-type table, emitted as the merge
    * table `(step, lhs, rhs, pair_count)`. Counts exact int64 with
    * overlap semantics; tie-break total on (count desc, lhs, rhs); the
    * merge sequence is permutation-invariant (BpeSpec property). The
    * oracle replays every round as its own CTE block — pair counts,
    * top-1, greedy fold — so a divergence names the exact round. */
  private val x102 = Q("x102_bpe_merges",
    (s, d) => Bpe.fitMerges(documents(s, d), "text", numMerges = bpeK)
      .orderBy("step"),
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)}
            SELECT * FROM ($bpeMergeTableSql)
            ORDER BY step"""))

  /** BPE ENCODED VOCABULARY ([[Bpe.encodeWords]] replaying x102's
    * learned sequence over the word-type table): per word, its BPE
    * pieces after all 8 merges — the artifact a tokenizer SHIPS. The
    * Spark side re-fits then replays (fit ≡ replay is the check: the
    * oracle's `w_8` is the fit loop's own final state, so the encoded
    * table matching proves the replay path reproduces training
    * exactly). */
  private val x103 = Q("x103_bpe_encode",
    (s, d) => {
      val docs = documents(s, d)
      val merges = Bpe.fitMerges(docs, "text", numMerges = bpeK)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.encodeWords(Bpe.wordSymbols(docs, "text"), merges)
        .select(col("word"), col("cnt"),
          array_join(col("syms"), " ").as("pieces"),
          size(col("syms")).cast("long").as("n_pieces"))
        .orderBy("word")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)}
            SELECT word, cnt, array_to_string(syms, ' ') AS pieces,
                   CAST(len(syms) AS BIGINT) AS n_pieces
            FROM w$bpeK ORDER BY word"""))

  /** The corpus-pricing oracle — shared VERBATIM by x104 (in-memory
    * fit) and x105 (store + continuation + serve): one oracle, two
    * checked plan shapes, the x53/x54 adjudication pattern. For x105
    * it is also the continuation proof — the oracle replays ONE
    * 8-merge fit, the Spark side commits 5 then extends by 3. */
  private val bpePieceCountsOracle =
    s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             dw AS MATERIALIZED (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents),
             pc AS MATERIALIZED (
               SELECT doc_id, CAST(sum(len(w.syms)) AS BIGINT) AS n_pieces,
                      CAST(count(*) AS BIGINT) AS n_words
               FROM dw JOIN w$bpeK w ON w.word = dw.word GROUP BY 1)
            SELECT d.doc_id, COALESCE(pc.n_pieces, 0) AS n_pieces,
                   COALESCE(pc.n_words, 0) AS n_words
            FROM documents d LEFT JOIN pc ON pc.doc_id = d.doc_id
            ORDER BY d.doc_id"""

  /** BPE CORPUS PRICING ([[Bpe.pieceCounts]] — the learned tokenizer
    * applied to the corpus): per document, its piece count in x102's
    * tokenizer units (what token budgets/mixtures actually consume)
    * next to its whitespace word count. Scale shape: the encoded
    * word-TYPE table broadcasts; the corpus re-tokenizes once, narrow,
    * and never shuffles its text. */
  private val x104 = Q("x104_bpe_piece_counts",
    (s, d) => {
      val docs = documents(s, d)
      val merges = Bpe.fitMerges(docs, "text", numMerges = bpeK)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.pieceCounts(docs, "doc_id", "text",
          Bpe.encodeWords(Bpe.wordSymbols(docs, "text"), merges))
        .orderBy("doc_id")
    },
    Some(bpePieceCountsOracle))

  /** TOKENIZER STORE + CONTINUATION ([[Bpe.writeTokenizerStore]] /
    * [[Bpe.extendTokenizer]] / [[Bpe.pieceCountsAgainstStore]]): 5
    * merges committed, 3 more trained as a CONTINUATION from the
    * stored sequence, then the corpus priced from the store. The
    * oracle is x104's one-shot 8-merge replay verbatim, so the check
    * proves store round-trip + extend ≡ one-shot fit + serve — the
    * x54/x55 adjudication folded into one (a tokenizer store has no
    * commutative deltas to ledger, so continuation IS its append —
    * the scaladoc on [[Bpe.writeTokenizerStore]] argues why). */
  private val x105 = Q("x105_tokenizer_store",
    (s, d) => {
      val docs = documents(s, d)
      Bpe.writeTokenizerStore(docs, "text", numMerges = 5,
        table = "x105_tok")
      Bpe.extendTokenizer(docs, "text", extraMerges = bpeK - 5,
        table = "x105_tok")
      Bpe.pieceCountsAgainstStore(docs, "doc_id", "text", "x105_tok")
        .orderBy("doc_id")
    },
    Some(bpePieceCountsOracle))

  /** TOKENIZER FERTILITY card ([[Bpe.fertilityCard]] — the per-source
    * pieces-per-word audit every multilingual/tokenizer paper
    * publishes, here under x102's learned tokenizer served from x105's
    * store pattern in memory): a source whose fertility runs hot pays
    * proportionally more context budget per word — the signal that
    * triggers continuation training ([[Bpe.extendTokenizer]]). Exact
    * int64 masses, one division; sourceless words impossible (source
    * is a table column). */
  private val x106 = Q("x106_tokenizer_fertility",
    (s, d) => {
      val docs = documents(s, d)
      val merges = Bpe.fitMerges(docs, "text", numMerges = bpeK)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Bpe.fertilityCard(docs, "source", "text",
          Bpe.encodeWords(Bpe.wordSymbols(docs, "text"), merges))
        .orderBy("source")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             dw AS MATERIALIZED (
               SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents),
             agg AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                      CAST(sum(len(w.syms)) AS BIGINT) AS n_pieces
               FROM dw JOIN w$bpeK w ON w.word = dw.word GROUP BY 1)
            SELECT d.source,
                   COALESCE(agg.n_words, 0) AS n_words,
                   COALESCE(agg.n_pieces, 0) AS n_pieces,
                   CASE WHEN COALESCE(agg.n_words, 0) > 0 THEN
                     CAST(agg.n_pieces AS DOUBLE) / CAST(agg.n_words AS DOUBLE)
                   END AS fertility
            FROM (SELECT DISTINCT source FROM documents) d
            LEFT JOIN agg ON agg.source = d.source
            ORDER BY d.source"""))

  /** TOKENIZER-PRICED sequence packing
    * ([[Packing.packCountedSequences]] ∘ [[Bpe.pieceCounts]] — x26's
    * batch-assembly layout re-priced in x102's learned tokenizer
    * units, which is what a real pre-training packer consumes: context
    * windows hold PIECES, not whitespace tokens, so a whitespace-
    * priced layout misbins every document whose fertility differs
    * from 1). Same distributed prefix sum as x26 (range exchange, two
    * narrow passes, O(#partitions) driver longs), fed by the broadcast
    * pricing join. */
  private val x107 = Q("x107_bpe_packing",
    (s, d) => {
      val docs = documents(s, d)
      val merges = Bpe.fitMerges(docs, "text", numMerges = bpeK)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val pc = Bpe.pieceCounts(docs, "doc_id", "text",
        Bpe.encodeWords(Bpe.wordSymbols(docs, "text"), merges))
      Packing.packCountedSequences(
          pc.select(col("doc_id"), col("n_pieces")),
          "doc_id", "n_pieces", windowTokens = 512)
        .orderBy("doc_id")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             dw AS MATERIALIZED (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents),
             pcnt AS MATERIALIZED (
               SELECT doc_id, CAST(sum(len(w.syms)) AS BIGINT) AS n_pieces
               FROM dw JOIN w$bpeK w ON w.word = dw.word GROUP BY 1),
             costs AS MATERIALIZED (
               SELECT d.doc_id, COALESCE(pcnt.n_pieces, 0) AS n_tokens
               FROM documents d LEFT JOIN pcnt ON pcnt.doc_id = d.doc_id),
             laid AS MATERIALIZED (
               SELECT doc_id, n_tokens,
                      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
               FROM costs)
            SELECT doc_id, n_tokens, "offset",
                   "offset" // 512 AS bin_start,
                   CASE WHEN n_tokens = 0 THEN "offset" // 512
                        ELSE ("offset" + n_tokens - 1) // 512 END AS bin_end
            FROM laid ORDER BY doc_id"""))

  /** Cross-source overlap matrix
    * ([[graft.ext.DataCard.crossSourceOverlap]] — the inter-source
    * data-card section: per source pair, distinct shared contents +
    * content-set Jaccard; a mirror/re-crawl shows up as a high-overlap
    * pair the mixture weights must not double-count). The synthetic
    * corpus adds two remix "releases" drawing doc_id % 3 and doc_id % 4
    * slices across every origin source (the x97 constructed-twin
    * convention; doc_ids are dealt round-robin across sources, so a
    * single-modulus slice would clone whole sources and every jaccard
    * would be the degenerate 1.0) — the matrix provably has partial
    * overlaps at several distinct jaccard values, remix-vs-remix
    * overlap (doc_id % 12), and absent pairs. */
  private val x108 = Q("x108_cross_source_overlap",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      def remix(m: Int, name: String) = docs.filter(col("doc_id") % m === 0)
        .select((col("doc_id") + lit(200000L * m)).as("doc_id"),
          lit(name).as("source"), col("text"))
      val corpus = docs.unionByName(remix(3, "remix_a"))
        .unionByName(remix(4, "remix_b"))
      graft.ext.DataCard.crossSourceOverlap(corpus, "text", "source")
        .orderBy("source_a", "source_b")
    },
    Some("""WITH corpus AS MATERIALIZED (
               SELECT source, text FROM documents
               UNION ALL
               SELECT 'remix_a', text FROM documents WHERE doc_id % 3 = 0
               UNION ALL
               SELECT 'remix_b', text FROM documents WHERE doc_id % 4 = 0),
             fps AS MATERIALIZED (
               SELECT DISTINCT source,
                      md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
               FROM corpus WHERE text IS NOT NULL),
             pg AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n FROM fps GROUP BY 1)
            SELECT a.source AS source_a, b.source AS source_b,
                   pa.n AS n_a, pb.n AS n_b,
                   CAST(count(*) AS BIGINT) AS n_shared,
                   CAST(count(*) AS DOUBLE)
                     / CAST(pa.n + pb.n - count(*) AS DOUBLE) AS jaccard
            FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
            JOIN pg pa ON pa.source = a.source
            JOIN pg pb ON pb.source = b.source
            GROUP BY 1, 2, pa.n, pb.n
            ORDER BY source_a, source_b"""))

  /** Binary gate-agreement audit ([[graft.ext.Curation.gateAgreement]]
    * — per source, Cohen's kappa between the Gopher rule gate (x61's
    * `keep`) and the heuristic quality-score gate (x03's score at a
    * median-split threshold): the categorical twin of x94's Spearman
    * audit — the decision-level cross-check that tells a recipe
    * whether its stacked gates agree beyond chance. Docs where the
    * score gate abstains (a synthetic doc_id % 17 abstention band,
    * modeling a model gate's low-confidence refusals) are excluded
    * and counted `n_unrated`. */
  /** Oracle twin of x61's `keep` conjunction, pared to (doc_id, ga):
    * CTEs `rg_t → rg`. Shared by x109 and x118 so the gate audits can
    * never drift from one another. */
  private val ruleKeepSql: String =
    """rg_t AS MATERIALIZED (SELECT doc_id, source, text,
                    regexp_extract_all(lower(trim(text)), '\S+') AS toks
                  FROM documents),
             rg AS MATERIALIZED (SELECT doc_id,
                     (CAST(len(toks) AS BIGINT) >= 20 AND CAST(len(toks) AS BIGINT) <= 80
                      AND (CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END) >= 4.0
                      AND (CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) END) <= 5.0
                      AND CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS BIGINT) >= 2
                      AND (CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(list_max(list_transform(list_distinct(toks),
                                  w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE) / len(toks) END) <= 0.2
                      AND (CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(CAST((length(text) - length(replace(text, '#', ''))) / 1 AS BIGINT)
                                     + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS DOUBLE) / len(toks) END) <= 0.1
                      AND (CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) END) >= 0.8) AS ga
                   FROM rg_t)"""

  /** Oracle twin of the x03 quality score, pared to
    * (doc_id, source, n_words, score): CTEs `qs_f → qs`. Shared by
    * x109 and x118 (each applies its own threshold / abstention
    * band). */
  private val scoreSql: String =
    """qs_f AS MATERIALIZED (SELECT doc_id, source,
                     CAST(length(text) AS BIGINT) AS nc,
                     CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
                     CASE WHEN length(text) = 0 THEN 0.0
                          ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text)
                     END AS digit_ratio,
                     CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) = 0 THEN 0.0
                          ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                 x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                               / len(regexp_extract_all(lower(text), '[a-z]+'))
                     END AS stop_ratio
                   FROM documents),
             qs AS MATERIALIZED (SELECT doc_id, source, nt AS n_ws_tokens,
                     (0.4 * stop_ratio
                      + 0.3 * (least(CASE WHEN nt = 0 THEN 0.0
                                          ELSE CAST(nc - nt + 1 AS DOUBLE) / nt END, 10.0) / 10.0)
                      + 0.3 * (1.0 - digit_ratio)) AS score
                   FROM qs_f)"""

  private val x109 = Q("x109_gate_agreement",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      val rule = graft.ext.RuleGate.flags(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("__ga"))
      val scored = docs.select(col("doc_id"), col("source"),
        when(col("doc_id") % 17 =!= 0,
          TA.qualityScore(col("text")) >= lit(0.46)).as("__gb"))
      graft.ext.Curation.gateAgreement(
          scored.join(rule, Seq("doc_id")), "source", "__ga", "__gb")
        .orderBy("source")
    },
    Some(s"""WITH $ruleKeepSql,
             $scoreSql,
             gb AS MATERIALIZED (SELECT doc_id, source,
                     CASE WHEN doc_id % 17 <> 0 THEN score >= 0.46 END AS gb
                   FROM qs),
             j AS MATERIALIZED (SELECT gb.source, rg.ga, gb.gb
                   FROM gb JOIN rg ON rg.doc_id = gb.doc_id),
             agg AS MATERIALIZED (SELECT source,
                     CAST(sum(CASE WHEN ga IS NOT NULL AND gb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rated,
                     CAST(sum(CASE WHEN ga IS NULL OR gb IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unrated,
                     CAST(sum(CASE WHEN ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                     CAST(sum(CASE WHEN ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n_a_only,
                     CAST(sum(CASE WHEN NOT ga AND gb THEN 1 ELSE 0 END) AS BIGINT) AS n_b_only,
                     CAST(sum(CASE WHEN NOT ga AND NOT gb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
                   FROM j GROUP BY 1),
             pp AS MATERIALIZED (SELECT *,
                     CASE WHEN n_rated > 0 THEN
                       CAST(n_both + n_neither AS DOUBLE) / CAST(n_rated AS DOUBLE) END AS po,
                     CASE WHEN n_rated > 0 THEN
                       (CAST(n_both + n_a_only AS DOUBLE) * CAST(n_both + n_b_only AS DOUBLE)
                        + CAST(n_b_only + n_neither AS DOUBLE) * CAST(n_a_only + n_neither AS DOUBLE))
                       / (CAST(n_rated AS DOUBLE) * CAST(n_rated AS DOUBLE)) END AS pe
                   FROM agg)
            SELECT source, n_rated, n_unrated, n_both, n_a_only, n_b_only,
                   n_neither, po, pe,
                   CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END AS kappa
            FROM pp ORDER BY source"""))

  /** Oracle twin of [[graft.ext.Winnowing.selectFingerprints]]: the
    * winnowing CTE cascade `{p}tw → {p}pg → {p}keyed → {p}sel →
    * {p}fps` over source CTE `src`, name-prefixed so one query can
    * winnow two corpora (x114's store and query sides). `{p}sel` is
    * the position-level selection (distinct order-encoded keys);
    * `{p}fps` collapses to the (doc, fp) pair grain the overlap joins
    * consume. Shared verbatim by x110/x111/x114 so the three can never
    * drift. */
  private def winnowSql(p: String, src: String, k: Int, w: Int): String = {
    val km1 = k - 1
    s"""${p}tw AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS w
               FROM $src),
             ${p}pg AS MATERIALIZED (
               SELECT doc_id, u.g.p AS pos, u.g.f AS fp
               FROM ${p}tw, unnest(list_transform(generate_series(1, len(w)-$km1),
                 i -> {'p': CAST(i - 1 AS BIGINT),
                       'f': CAST(CAST('0x'||substr(md5(array_to_string(w[i:i+$km1], ' ')),1,15) AS UBIGINT) AS BIGINT)})) AS u(g)
               WHERE len(w) >= $k),
             ${p}keyed AS MATERIALIZED (
               SELECT doc_id, pos,
                      lpad(CAST(fp AS VARCHAR), 19, '0')
                        || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0') AS k
               FROM ${p}pg),
             ${p}sel AS MATERIALIZED (
               SELECT DISTINCT doc_id,
                      min(k) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS s
               FROM ${p}keyed),
             ${p}fps AS MATERIALIZED (
               SELECT DISTINCT doc_id, CAST(substr(s, 1, 19) AS BIGINT) AS fp
               FROM ${p}sel)"""
  }

  /** MOSS winnowing fingerprint selection
    * ([[graft.ext.Winnowing.stats]] — the SIGMOD'03 local
    * fingerprinting algorithm: per window of w consecutive k-gram
    * hashes select the min, rightmost on ties; the selected set is the
    * sparse ~2/(w+1) index with the guarantee that any shared run of
    * ≥ w+k−1 tokens surfaces a shared fingerprint). The oracle replays
    * the (min fp, rightmost pos) argmin through the SAME
    * order-encoding string key (`lpad(fp,19) ⧺ lpad(10⁹−1−pos,9)`), so
    * neither engine relies on a `min_by` tie policy. Per doc: gram
    * count, selected count, realized density. */
  private val x110 = Q("x110_winnowing_stats",
    (s, d) => graft.ext.Winnowing.stats(documents(s, d), "doc_id", "text",
        k = 3, w = 4)
      .orderBy("doc_id"),
    Some(s"""WITH ${winnowSql("", "documents", 3, 4)},
             cnt AS MATERIALIZED (
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected
               FROM sel GROUP BY 1),
             tot AS MATERIALIZED (
               SELECT d.doc_id, CAST(COALESCE(c.c, 0) AS BIGINT) AS n_grams
               FROM documents d LEFT JOIN (
                 SELECT doc_id, count(*) AS c FROM pg GROUP BY 1) c
                 ON c.doc_id = d.doc_id)
            SELECT t.doc_id, t.n_grams,
                   COALESCE(cnt.n_selected, 0) AS n_selected,
                   CASE WHEN t.n_grams = 0 THEN 0.0
                        ELSE CAST(COALESCE(cnt.n_selected, 0) AS DOUBLE)
                             / CAST(t.n_grams AS DOUBLE) END AS density
            FROM tot t LEFT JOIN cnt ON cnt.doc_id = t.doc_id
            ORDER BY t.doc_id"""))

  /** Winnowed overlap pairs ([[graft.ext.Winnowing.overlapPairs]] —
    * the MOSS composition: the fp-keyed equi-join runs on the
    * ~2/(w+1)-SPARSE winnowed index instead of the exhaustive gram
    * index, with the over-frequent-fingerprint cut applied before the
    * join). The corpus adds a mutated twin (prefix-shifted copy, so
    * exact dedup misses it) for every doc_id % 9 doc; the winnowing
    * guarantee makes every original–twin pair provably surface (the
    * full original text is a shared run ≫ w+k−1 tokens — all 56 pairs
    * do at sf0.01, min 6 shared fps), while minShared = 2 drops the
    * single-fp accidental matches between unrelated docs. */
  private val x111 = Q("x111_winnowing_pairs",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(lit("mutated twin prefix "), col("text")).as("text")))
      graft.ext.Winnowing.overlapPairs(corpus, "doc_id", "text",
          k = 3, w = 4, minShared = 2L)
        .orderBy("id_a", "id_b")
    },
    Some(s"""WITH corpus AS MATERIALIZED (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 300000, 'mutated twin prefix ' || text
               FROM documents WHERE doc_id % 9 = 0),
             ${winnowSql("", "corpus", 3, 4)},
             rare AS MATERIALIZED (
               SELECT fp FROM fps GROUP BY 1 HAVING count(*) <= 64),
             kept AS MATERIALIZED (
               SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared_fps
            FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY id_a, id_b"""))

  /** The x112/x113 plan fixture ([[graft.ext.Mixing.budgetPlan]] —
    * exact water-filling): per-source integer weights cycling 1..5 by
    * source index (so the plan provably contains both capped and
    * uncapped strata), epoch cap 2, budget 1.8× the corpus token mass
    * (computed from the data so the capping dynamics survive
    * scale-factor changes). Tight strata (high weight per cap) hit the
    * ceiling and the overflow re-waters the rest by weight, all in
    * exact integer arithmetic — decimal(38,0) cross-multiplications on
    * the Spark side, HUGEINT in the oracle, the double tightness used
    * ONLY as the shared sort key. */
  /** Exact whitespace-token mass of a corpus — the ONE definition the
    * budget fixtures share (x112/x113/x125). */
  private def corpusTokens(df: org.apache.spark.sql.DataFrame): Long =
    df.select(sum(coalesce(size(graft.ext.Ngrams.normTokens(col("text")))
      .cast("long"), lit(0L))).as("t"))
      .first().getLong(0)

  private val budgetWeights: Map[String, Long] =
    (0 to 19).map(i => s"src$i" -> ((i % 5) + 1L)).toMap

  private def budgetPlanFixture(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame = {
    val docs = documents(s, d)
    Mixing.budgetPlan(docs, "source", "text", budgetWeights,
      budgetTokens = corpusTokens(docs) * 9L / 5L, maxEpochs = 2)
  }

  /** Oracle twin of [[budgetPlanFixture]]: the exact water-filling CTE
    * chain `st → bt → base → walk → v → fv → lam → planned`, shared
    * verbatim by x112 (the plan itself) and x113 (the plan driving the
    * materialize + audit chain) so the two can never drift. */
  private def budgetPlanSqlOver(docsCte: String, q: String = ""): String = s"""${q}st AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(len(regexp_extract_all(lower(trim(text)), '\\S+'))) AS BIGINT) AS n_tokens
               FROM $docsCte GROUP BY 1),
             ${q}bt AS MATERIALIZED (
               SELECT (CAST(sum(n_tokens) AS HUGEINT) * 9) // 5 AS b FROM ${q}st),
             ${q}base AS MATERIALIZED (
               SELECT source, n_docs, n_tokens,
                      CAST((CAST(substr(source, 4) AS BIGINT) % 5) + 1 AS BIGINT) AS weight,
                      CAST(n_tokens * 2 AS BIGINT) AS cap_tokens
               FROM ${q}st),
             ${q}walk AS MATERIALIZED (
               SELECT *,
                      row_number() OVER (ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(weight AS DOUBLE), source) AS rn,
                      COALESCE(sum(CAST(cap_tokens AS HUGEINT)) OVER (
                        ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(weight AS DOUBLE), source
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
                      sum(CAST(weight AS HUGEINT)) OVER (
                        ORDER BY CAST(cap_tokens AS DOUBLE) / CAST(weight AS DOUBLE), source
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wfrom
               FROM ${q}base WHERE weight > 0),
             ${q}v AS MATERIALIZED (
               SELECT *, ((SELECT b FROM ${q}bt) - cprev) * weight
                           <= CAST(cap_tokens AS HUGEINT) * wfrom AS valid
               FROM ${q}walk),
             ${q}fv AS MATERIALIZED (
               SELECT *, min(CASE WHEN valid THEN rn END) OVER () AS fvn FROM ${q}v),
             ${q}lam AS MATERIALIZED (
               SELECT *,
                      max(CASE WHEN rn = fvn THEN (SELECT b FROM ${q}bt) - cprev END) OVER () AS lam_num,
                      max(CASE WHEN rn = fvn THEN wfrom END) OVER () AS lam_den
               FROM ${q}fv),
             ${q}planned AS MATERIALIZED (
               SELECT source, n_docs, n_tokens, weight, cap_tokens,
                      (fvn IS NULL OR rn < fvn) AS capped,
                      CAST(CASE WHEN fvn IS NULL OR rn < fvn THEN CAST(cap_tokens AS HUGEINT)
                           ELSE (lam_num * weight) // lam_den END AS BIGINT) AS alloc_tokens
               FROM ${q}lam)"""

  private val budgetPlanSql: String = budgetPlanSqlOver("documents")

  private val x112 = Q("x112_budget_plan",
    (s, d) => budgetPlanFixture(s, d).orderBy("source"),
    Some(s"""WITH $budgetPlanSql
            SELECT source, n_docs, n_tokens, weight, cap_tokens, capped,
                   alloc_tokens,
                   CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   END AS epochs
            FROM planned ORDER BY source"""))

  /** The budget plan made ACTIONABLE: x112's epoch-capped allocation
    * drives [[graft.ext.Mixing.materializeMixture]] (the plan's
    * `epochs` column IS the repeat factor — `A_s/T_s`), then
    * [[graft.ext.Mixing.mixtureAudit]] verifies the realized mixture
    * against the plan's own targets (the x84 closing-audit discipline
    * applied to the capped planner). Capped strata must realize
    * ~maxEpochs; the oracle splices [[budgetPlanSql]] verbatim, so the
    * plan feeding the audit is bit-identical to the plan x112
    * checks. */
  private val x113 = Q("x113_budget_mixture_audit",
    (s, d) => {
      val docs = documents(s, d)
      val factors = budgetPlanFixture(s, d).select(col("source"),
        col("n_tokens"), col("epochs").as("repeat_factor"))
      Mixing.mixtureAudit(
          Mixing.materializeMixture(docs, "source", "doc_id", factors),
          "source", "text", factors)
        .orderBy("source")
    },
    Some(s"""WITH $budgetPlanSql,
             f AS MATERIALIZED (
               SELECT source, n_tokens,
                      CASE WHEN n_tokens = 0 THEN 0.0
                           ELSE CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                      END AS repeat_factor
               FROM planned),
             tok AS MATERIALIZED (
               SELECT doc_id, source,
                      CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS BIGINT) AS nt
               FROM documents),
             md AS MATERIALIZED (
               SELECT tk.source, tk.nt,
                      CAST(floor(f.repeat_factor) AS BIGINT)
                        + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(tk.doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                                < CAST(floor(f.repeat_factor * 10000.0) AS BIGINT)
                                  - CAST(floor(f.repeat_factor) AS BIGINT) * 10000
                                THEN 1 ELSE 0 END) AS n_copies
               FROM tok tk JOIN f USING (source)),
             o AS MATERIALIZED (
               SELECT source, CAST(sum(n_copies) AS BIGINT) AS n_out_rows,
                      CAST(sum(n_copies * nt) AS BIGINT) AS out_tokens
               FROM md WHERE n_copies > 0 GROUP BY source)
            SELECT f.source,
                   COALESCE(o.n_out_rows, 0) AS n_out_rows,
                   COALESCE(o.out_tokens, 0) AS out_tokens,
                   f.repeat_factor * f.n_tokens AS target_tokens,
                   CASE WHEN f.repeat_factor * f.n_tokens = 0.0 THEN NULL
                        ELSE CAST(COALESCE(o.out_tokens, 0) AS DOUBLE)
                             / (f.repeat_factor * f.n_tokens) END AS attainment
            FROM f LEFT JOIN o USING (source)
            ORDER BY f.source"""))

  /** Persisted winnowed index — the MOSS deployment shape
    * ([[graft.ext.Winnowing.writeWinnowStore]] /
    * [[graft.ext.Winnowing.overlapAgainstStore]], the seventh store
    * family): release 1 (doc_id % 3 ≠ 0) is winnowed ONCE into the
    * fp-bucketed (sel_fp, doc_id) store under a committed (k, w) meta;
    * the query shard — prefix-mutated twins of indexed docs
    * (doc_id % 9 = 1, always in release 1) plus the held-out
    * doc_id % 3 = 0 docs — winnows under the STORE's own parameters
    * and joins the buckets in place (merge-hinted, PlanSpec-pinned),
    * with the over-frequent-fingerprint cut computed store-side
    * in-bucket. Every twin provably hits its original (the winnowing
    * guarantee); held-out docs only hit via accidental short overlaps,
    * which minShared = 2 suppresses. */
  private val x114 = Q("x114_winnow_store_overlap",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      graft.ext.Winnowing.writeWinnowStore(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        k = 3, w = 4, table = "x114_winnow_store", buckets = 8)
      val shard = docs.filter(col("doc_id") % 9 === 1)
        .select((col("doc_id") + 400000L).as("doc_id"),
          concat(lit("mutated twin prefix "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0))
      graft.ext.Winnowing.overlapAgainstStore(shard, "doc_id", "text",
          "x114_winnow_store", minShared = 2L)
        .orderBy("doc_id", "store_doc_id")
    },
    Some(s"""WITH store_docs AS MATERIALIZED (
               SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
             q_docs AS MATERIALIZED (
               SELECT doc_id + 400000 AS doc_id,
                      'mutated twin prefix ' || text AS text
               FROM documents WHERE doc_id % 9 = 1
               UNION ALL
               SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
             ${winnowSql("s_", "store_docs", 3, 4)},
             ${winnowSql("q_", "q_docs", 3, 4)},
             rare AS MATERIALIZED (
               SELECT fp FROM s_fps GROUP BY 1 HAVING count(*) <= 64),
             kept AS MATERIALIZED (
               SELECT f.doc_id, f.fp FROM s_fps f JOIN rare USING (fp))
            SELECT q.doc_id AS doc_id, kept.doc_id AS store_doc_id,
                   CAST(count(*) AS BIGINT) AS n_shared_fps
            FROM q_fps q JOIN kept ON q.fp = kept.fp
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY doc_id, store_doc_id"""))

  /** Streamed winnow-index ingest
    * ([[graft.ext.Winnowing.streamIngestWinnow]] — the seventh store
    * family's batch+stream symmetry leg): the index starts from the
    * doc_id % 3 = 0 slice, two staged waves stream the % 3 = 1 and
    * % 3 = 2 slices in exactly-once (with in-loop compaction every
    * batch), and the CHECKED result is the overlap serve after the
    * stream — prefix-mutated twins of doc_id % 9 = 2 docs (wave-2
    * residents) against the grown store. The winnowed pair grain is
    * order-free, so the oracle is simply the one-shot cascade over the
    * full corpus — streamed-grown ≡ batch-built is exactly the
    * symmetry being checked; the crash/replay discipline itself is
    * WinnowStoreSpec's pin. */
  private val x115 = Q("x115_stream_winnow_ingest",
    (s, d) => graft.util.Sessions.withShufflePartitions(s,
        graft.util.Sessions.streamingShufflePartitions) {
      val root = java.nio.file.Files.createTempDirectory("graft-x115-")
      val in = root.resolve("in"); val chk = s"$root/chk"
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val stream = graft.util.Staging.stagedStream(in,
          Seq(docs.filter(col("doc_id") % 3 === 1),
            docs.filter(col("doc_id") % 3 === 2)))(
        graft.ext.Winnowing.writeWinnowStore(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
          k = 3, w = 4, table = "x115_winnow_store", buckets = 8))
      graft.ext.Winnowing.streamIngestWinnow(stream, "doc_id", "text",
          table = "x115_winnow_store", buckets = 8, checkpoint = chk,
          compactEvery = 1)
        .awaitTermination()
      val shard = docs.filter(col("doc_id") % 9 === 2)
        .select((col("doc_id") + 500000L).as("doc_id"),
          concat(lit("mutated twin prefix "), col("text")).as("text"))
      graft.ext.Winnowing.overlapAgainstStore(shard, "doc_id", "text",
          "x115_winnow_store", minShared = 2L)
        .orderBy("doc_id", "store_doc_id")
    },
    Some(s"""WITH q_docs AS MATERIALIZED (
               SELECT doc_id + 500000 AS doc_id,
                      'mutated twin prefix ' || text AS text
               FROM documents WHERE doc_id % 9 = 2),
             ${winnowSql("s_", "documents", 3, 4)},
             ${winnowSql("q_", "q_docs", 3, 4)},
             rare AS MATERIALIZED (
               SELECT fp FROM s_fps GROUP BY 1 HAVING count(*) <= 64),
             kept AS MATERIALIZED (
               SELECT f.doc_id, f.fp FROM s_fps f JOIN rare USING (fp))
            SELECT q.doc_id AS doc_id, kept.doc_id AS store_doc_id,
                   CAST(count(*) AS BIGINT) AS n_shared_fps
            FROM q_fps q JOIN kept ON q.fp = kept.fp
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY doc_id, store_doc_id"""))

  /** Oracle twin of the [[graft.ext.SpanCorruption]] pipeline through
    * the islands rollup: seeded hash start marks (threshold 500 =
    * round(0.15/3 · 10⁴)) → spanLen-frame window max → maximal-run
    * islands. Shared by x116 (the span table) and x117 (the audit). */
  private def spanCorruptSql(seed: String, src: String = "documents"): String =
    s"""sc_tw AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS w
               FROM $src),
             sc_pos AS MATERIALIZED (
               SELECT doc_id, CAST(unnest(generate_series(0, len(w) - 1)) AS BIGINT) AS pos
               FROM sc_tw WHERE len(w) >= 1),
             sc_mark AS MATERIALIZED (
               SELECT doc_id, pos,
                      (CAST(CAST('0x'||substr(md5('$seed' || ':' || CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 < 500) AS strt
               FROM sc_pos),
             sc_cor AS MATERIALIZED (
               SELECT doc_id, pos FROM (
                 SELECT doc_id, pos,
                        max(CASE WHEN strt THEN 1 ELSE 0 END) OVER (
                          PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS c
                 FROM sc_mark) WHERE c = 1),
             sc_isl AS MATERIALIZED (
               SELECT doc_id, pos,
                      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
               FROM sc_cor),
             sc_spans AS MATERIALIZED (
               SELECT doc_id,
                      CAST(row_number() OVER (PARTITION BY doc_id ORDER BY min(pos)) AS BIGINT) - 1 AS span_idx,
                      CAST(min(pos) AS BIGINT) AS start_pos,
                      CAST(max(pos) AS BIGINT) AS end_pos,
                      CAST(count(*) AS BIGINT) AS span_len
               FROM sc_isl GROUP BY doc_id, island)"""

  /** T5-style span-corruption construction
    * ([[graft.ext.SpanCorruption.spans]] — the objective-building step
    * of the T5/UL2 recipe: seeded-hash span starts at rate r/L, spans
    * of length L merged into maximal islands, sentinel numbering by
    * position; the engine-wide deterministic-draw substitute for the
    * published sampler's RNG). */
  private val x116 = Q("x116_span_corruption",
    (s, d) => graft.ext.SpanCorruption.spans(documents(s, d), "doc_id",
        "text", corruptionRate = 0.15, spanLen = 3, seed = "t5-r19")
      .orderBy("doc_id", "span_idx"),
    Some(s"""WITH ${spanCorruptSql("t5-r19")}
            SELECT doc_id, span_idx, start_pos, end_pos, span_len
            FROM sc_spans ORDER BY doc_id, span_idx"""))

  /** The span-corruption AUDIT ([[graft.ext.SpanCorruption.audit]]):
    * per doc, tokens / spans / corrupted tokens / realized rate — the
    * release check that the objective builder samples at spec
    * (realized ≈ 0.15 in expectation; token-less docs report zeros
    * instead of vanishing). */
  private val x117 = Q("x117_span_corruption_audit",
    (s, d) => graft.ext.SpanCorruption.audit(documents(s, d), "doc_id",
        "text", corruptionRate = 0.15, spanLen = 3, seed = "t5-r19")
      .orderBy("doc_id"),
    Some(s"""WITH ${spanCorruptSql("t5-r19")},
             sc_tot AS MATERIALIZED (
               SELECT doc_id,
                      CAST(len(regexp_extract_all(lower(trim(text)), '\\S+')) AS BIGINT) AS n_tokens
               FROM documents),
             sc_agg AS MATERIALIZED (
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                      CAST(sum(span_len) AS BIGINT) AS n_corrupted
               FROM sc_spans GROUP BY 1)
            SELECT t.doc_id, t.n_tokens,
                   COALESCE(a.n_spans, 0) AS n_spans,
                   COALESCE(a.n_corrupted, 0) AS n_corrupted,
                   CASE WHEN t.n_tokens = 0 THEN 0.0
                        ELSE CAST(COALESCE(a.n_corrupted, 0) AS DOUBLE)
                             / CAST(t.n_tokens AS DOUBLE) END AS realized_rate
            FROM sc_tot t LEFT JOIN sc_agg a ON a.doc_id = t.doc_id
            ORDER BY t.doc_id"""))

  /** Gate-attribution audit ([[graft.ext.Curation.gateAttribution]] —
    * the filtering-ablation table: per gate, documents and tokens
    * dropped, and dropped UNIQUELY, i.e. by no other gate; a gate with
    * near-zero unique drops is pure cost). Three stacked gates over
    * the corpus: x61's rule conjunction, the x03 score gate at the
    * median split (abstaining on the doc_id % 17 band — an abstention
    * neither drops nor blocks another gate's uniqueness), and a
    * word-count band gate. Oracle splices the shared
    * [[ruleKeepSql]]/[[scoreSql]] twins and replays the
    * dropping-gate-count arithmetic. */
  private val x118 = Q("x118_gate_attribution",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      val rule = graft.ext.RuleGate.flags(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("gate_rule"))
      val flagged = docs.select(col("doc_id"),
          coalesce(size(graft.ext.Ngrams.normTokens(col("text")))
            .cast("long"), lit(0L)).as("__nt"),
          when(col("doc_id") % 17 =!= 0,
            TA.qualityScore(col("text")) >= lit(0.46)).as("gate_score"))
        .withColumn("gate_len", col("__nt") >= 25 && col("__nt") <= 70)
        .join(rule, Seq("doc_id"))
      graft.ext.Curation.gateAttribution(flagged, "__nt",
          Seq("gate_rule", "gate_score", "gate_len"))
        .orderBy("gate")
    },
    Some(s"""WITH $ruleKeepSql,
             $scoreSql,
             flags AS MATERIALIZED (
               SELECT qs.doc_id, qs.n_ws_tokens AS nt, rg.ga AS gate_rule,
                      CASE WHEN qs.doc_id % 17 <> 0 THEN qs.score >= 0.46
                      END AS gate_score,
                      (qs.n_ws_tokens >= 25 AND qs.n_ws_tokens <= 70) AS gate_len
               FROM qs JOIN rg ON rg.doc_id = qs.doc_id),
             nd AS MATERIALIZED (
               SELECT *,
                      (CASE WHEN gate_rule = false THEN 1 ELSE 0 END
                       + CASE WHEN gate_score = false THEN 1 ELSE 0 END
                       + CASE WHEN gate_len = false THEN 1 ELSE 0 END) AS ndrop
               FROM flags),
             obs AS MATERIALIZED (
               SELECT u.o.gate AS gate, u.o.keep AS keep,
                      u.o.uniq AS uniq, u.o.tok AS tok
               FROM nd, unnest([
                 {'gate': 'gate_rule', 'keep': gate_rule,
                  'uniq': gate_rule = false AND ndrop = 1, 'tok': nt},
                 {'gate': 'gate_score', 'keep': gate_score,
                  'uniq': gate_score = false AND ndrop = 1, 'tok': nt},
                 {'gate': 'gate_len', 'keep': gate_len,
                  'uniq': gate_len = false AND ndrop = 1, 'tok': nt}]) AS u(o))
            SELECT gate, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN keep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
                   CAST(sum(CASE WHEN keep = false THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
                   CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_drop,
                   CAST(sum(CASE WHEN keep = false THEN tok ELSE 0 END) AS BIGINT) AS tokens_drop,
                   CAST(sum(CASE WHEN uniq THEN tok ELSE 0 END) AS BIGINT) AS tokens_unique_drop,
                   CASE WHEN sum(CASE WHEN keep IS NOT NULL THEN 1 ELSE 0 END) > 0 THEN
                     CAST(sum(CASE WHEN keep = false THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CASE WHEN keep IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   END AS drop_rate
            FROM obs GROUP BY 1 ORDER BY gate"""))

  /** Oracle twin of [[graft.ext.Unigram]]'s hard-EM Viterbi trainer —
    * the DP UNROLLED into plain per-position CTEs (DuckDB 1.0's
    * `list_reduce` silently corrupts struct accumulators and outer
    * column captures, so NO lambda fold is trusted with state; every
    * cell is a 4-way UNION of candidate rows decided by one
    * `row_number() OVER (ORDER BY negs, k, b)` — the identical
    * (max product, fewest pieces, longest last piece) tie-break as
    * the engine's struct `least()`). `m` bounds the unrolling: every
    * corpus word must be ≤ m chars (the checked queries require() it
    * loudly against the data). Per round: probability CTE (the same
    * `max(1, cnt·2²⁰ div total)/2²⁰` quantized rational), M DP
    * position CTEs, the backpointer walk (M chained CTEs emitting one
    * piece each), and the usage recount. Bit-exact against
    * [[graft.ext.Unigram.fit]] including every double. */
  private def unigramDpRound(pre: String, wordsCte: String, r: Int,
                             vocab: String, l: Int, m: Int): Seq[String] = {
    val probs =
      s"""${pre}p$r AS MATERIALIZED (
      SELECT piece, CAST(greatest(1, (CAST(cnt AS HUGEINT) * 1048576) // (SELECT CAST(sum(cnt) AS HUGEINT) FROM $vocab)) AS DOUBLE) / 1048576.0 AS prob
      FROM $vocab)"""
    val d0 =
      s"""${pre}d${r}_0 AS MATERIALIZED (
      SELECT word, cnt, CAST(-1.0 AS DOUBLE) AS negs, 0 AS k, CAST(-1 AS INT) AS b FROM $wordsCte)"""
    val dps = (1 to m).map { p =>
      val cands = (1 to math.min(l, p)).map { d =>
        s"""SELECT w.word, w.cnt, s.negs * pp.prob AS negs, s.k + 1 AS k, CAST(${p - d} AS INT) AS b
        FROM $wordsCte w
        JOIN ${pre}d${r}_${p - d} s ON s.word = w.word
        JOIN ${pre}p$r pp ON pp.piece = substr(w.word, ${p - d + 1}, $d)
        WHERE length(w.word) >= $p"""
      }.mkString("\n        UNION ALL\n        ")
      s"""${pre}d${r}_$p AS MATERIALIZED (
      SELECT word, cnt, negs, k, b FROM (
        SELECT *, row_number() OVER (PARTITION BY word ORDER BY negs, k, b) AS rk FROM (
        $cands)) WHERE rk = 1)"""
    }
    val all = s"${pre}all$r AS MATERIALIZED (" + (0 to m).map(p =>
      s"SELECT word, $p AS pos, negs, k, b FROM ${pre}d${r}_$p")
      .mkString("\n        UNION ALL\n        ") + ")"
    val fin =
      s"""${pre}fin$r AS MATERIALIZED (
      SELECT a.word, w.cnt, a.pos, a.k, a.b FROM ${pre}all$r a
      JOIN $wordsCte w ON w.word = a.word AND a.pos = length(w.word))"""
    val walk1 =
      s"""${pre}walk${r}_1 AS MATERIALIZED (
      SELECT word, cnt, b AS pos, substr(word, b + 1, pos - b) AS piece FROM ${pre}fin$r)"""
    val walks = (2 to m).map { s =>
      s"""${pre}walk${r}_$s AS MATERIALIZED (
      SELECT w.word, w.cnt, a.b AS pos, substr(w.word, a.b + 1, w.pos - a.b) AS piece
      FROM ${pre}walk${r}_${s - 1} w JOIN ${pre}all$r a ON a.word = w.word AND a.pos = w.pos
      WHERE w.pos > 0)"""
    }
    val pieces = s"${pre}pieces$r AS MATERIALIZED (" + (1 to m).map(s =>
      s"SELECT word, cnt, piece FROM ${pre}walk${r}_$s")
      .mkString("\n        UNION ALL\n        ") + ")"
    val vR =
      s"""${pre}v$r AS MATERIALIZED (
      SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM ${pre}pieces$r GROUP BY 1)"""
    Seq(probs, d0) ++ dps ++ Seq(all, fin, walk1) ++ walks ++
      Seq(pieces, vR)
  }

  /** The full training cascade: seed + `rounds` DP rounds, all under
    * the `ug_` prefix. */
  private def unigramSql(wordsCte: String, rounds: Int, l: Int, v: Int,
                         m: Int): String = {
    val seed = Seq(
      s"""ug_seed AS MATERIALIZED (
      SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        SELECT unnest(flatten(list_transform(generate_series(1, length(word)),
          i -> list_transform(generate_series(1, least($l, length(word) - i + 1)),
            j -> substr(word, CAST(i AS INT), CAST(j AS INT)))))) AS piece, cnt
        FROM $wordsCte) GROUP BY 1)""",
      s"""ug_v0 AS MATERIALIZED (
      SELECT piece, cnt FROM ug_seed WHERE length(piece) = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rk
        FROM ug_seed WHERE length(piece) > 1) WHERE rk <= $v)""")
    (seed ++ (1 to rounds).flatMap(r =>
      unigramDpRound("ug_", wordsCte, r, s"ug_v${r - 1}", l, m)))
      .mkString(",\n    ")
  }

  /** The x119/x120 trainer fixture: V = 25 multi-char pieces, piece
    * length ≤ 4, 2 hard-EM rounds; the oracle's DP unrolls to m = 10
    * positions, and the fixture require()s the corpus's max word
    * length inside that bound so a data regeneration cannot silently
    * desynchronize the two sides. */
  private val ugV = 25; private val ugL = 4; private val ugR = 2
  private val ugM = 10

  private def requireWordBound(docs: org.apache.spark.sql.DataFrame): Unit = {
    val maxLen = graft.ext.Unigram.wordTypes(docs, "text")
      .agg(max(length(col("word")))).head().getInt(0)
    require(maxLen <= ugM,
      s"unigram oracle unrolls the Viterbi DP to $ugM positions but the " +
        s"corpus has a $maxLen-char word — raise ugM to match")
  }

  /** Unigram-LM tokenizer fit ([[graft.ext.Unigram.fit]] — the
    * SentencePiece counterpart of the x102 BPE family: seed substring
    * vocabulary → Viterbi max-product segmentation → usage recount,
    * iterated, pruned to used pieces; probabilities are quantized
    * rationals and the DP multiplies doubles in one fixed order, so
    * the trained table is bit-exact across engines — no logs
    * anywhere, the engine-wide no-transcendentals discipline). */
  /** x119's oracle text — shared VERBATIM by x121 (the store's
    * extend-then-serve path must equal the one-shot fit: one oracle,
    * two plan shapes, the x105 precedent). */
  private val unigramFitOracle: String =
    s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)}
            SELECT piece, cnt,
                   CAST(greatest(1, (CAST(cnt AS HUGEINT) * 1048576) // (SELECT CAST(sum(cnt) AS HUGEINT) FROM ug_v$ugR)) AS DOUBLE) / 1048576.0 AS prob
            FROM ug_v$ugR ORDER BY piece"""

  private val x119 = Q("x119_unigram_fit",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .orderBy("piece")
    },
    Some(unigramFitOracle))

  /** Persisted unigram tokenizer with CONTINUATION training
    * ([[graft.ext.Unigram.writeUnigramStore]] /
    * [[graft.ext.Unigram.extendUnigram]] /
    * [[graft.ext.Unigram.serveVocab]] — the x105 BPE-store pattern:
    * meta commit marker last, meta-less stores refuse loud, crash
    * recovery is a documented rebuild, NO streamed ingest because an
    * EM round conditions on the whole prior vocabulary; continuation
    * is the honest incremental form and it is EXACT — the loop is
    * Markov on (word table, vocab counts), spec-pinned). The store is
    * built with 1 round, extended by 1 more, and served — checked
    * against x119's ONE-SHOT 2-round oracle VERBATIM. */
  private val x121 = Q("x121_unigram_store",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      graft.ext.Unigram.writeUnigramStore(docs, "text", vocabSize = ugV,
        maxPieceLen = ugL, rounds = ugR - 1, table = "x121_ug_store")
      graft.ext.Unigram.extendUnigram(docs, "text", extraRounds = 1,
        table = "x121_ug_store")
      graft.ext.Unigram.serveVocab(s, "x121_ug_store").orderBy("piece")
    },
    Some(unigramFitOracle))

  /** The corpus priced in trained UNIGRAM units
    * ([[graft.ext.Unigram.pieceCounts]] — x104's BPE pricing with the
    * Viterbi segmenter: per doc, words, pieces, and UNPRICED words,
    * i.e. words carrying characters outside the tokenizer's coverage,
    * reported rather than silently dropped; the doc_id % 7 docs carry
    * appended foreign words ('zebra xylo' — 'x'/'z' are outside the
    * corpus alphabet) so the unpriced column provably fires. The
    * scoring DP is one more oracle round under the FINAL vocabulary's
    * probabilities. */
  private val x120 = Q("x120_unigram_price",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      val probs = graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" zebra xylo")))
          .otherwise(col("text")).as("text"))
      graft.ext.Unigram.pieceCounts(scored, "doc_id", "text", probs, ugL)
        .orderBy("doc_id")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    scored AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' zebra xylo'
                          ELSE text END AS text FROM documents),
    qq_w AS MATERIALIZED (
      SELECT word, CAST(1 AS BIGINT) AS cnt FROM (
        SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM scored)),
    ${unigramDpRound("qq_", "qq_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM scored),
    kk AS MATERIALIZED (
      SELECT word, CAST(k AS BIGINT) AS np FROM qq_fin1)
            SELECT d.doc_id,
                   CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
                   CAST(COALESCE(agg.n_pieces, 0) AS BIGINT) AS n_pieces,
                   CAST(COALESCE(agg.n_unpriced, 0) AS BIGINT) AS n_unpriced
            FROM documents d LEFT JOIN (
              SELECT dw.doc_id, count(*) AS n_words,
                     sum(COALESCE(kk.np, 0)) AS n_pieces,
                     sum(CASE WHEN kk.np IS NULL THEN 1 ELSE 0 END) AS n_unpriced
              FROM dw LEFT JOIN kk ON kk.word = dw.word
              GROUP BY 1) agg ON agg.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** Tokenizer COMPARISON card — the selection audit a pipeline runs
    * before committing to a tokenizer: per source, fertility
    * (pieces/word) under the x102 BPE tokenizer vs the x119 unigram
    * tokenizer, both trained on the same corpus, side by side
    * ([[graft.ext.Bpe.fertilityCard]] ⋈
    * [[graft.ext.Unigram.fertilityCard]]). The unigram side prices
    * over segmentable words only and reports `ug_unpriced` honestly
    * (0 here — the scorer runs on the training corpus). The oracle
    * splices the x102 merge cascade and the x119 unigram cascade plus
    * one scoring DP round, so neither tokenizer's numbers can drift
    * from their own checked queries. */
  private val x122 = Q("x122_tokenizer_compare",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      // the two tokenizer FITS are independent driver-sequential job
      // loops (BPE merge rounds, unigram EM rounds) — each leaves most
      // cores idle between its tiny jobs, so overlap them from two
      // driver threads (guide §2.6); a failed fit cancels its sibling
      val (merges, probs) = graft.core.Bucketing.inParallel(
        Bpe.fitMerges(docs, "text", numMerges = bpeK)
          .orderBy("step").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq,
        graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
            maxPieceLen = ugL, rounds = ugR)
          .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap)
      val bpe = Bpe.fertilityCard(docs, "source", "text",
          Bpe.encodeWords(Bpe.wordSymbols(docs, "text"), merges))
        .select(col("source"), col("n_words"),
          col("n_pieces").as("bpe_pieces"),
          col("fertility").as("bpe_fertility"))
      val ug = graft.ext.Unigram.fertilityCard(docs, "source", "text",
          probs, ugL)
        .select(col("source"), col("n_pieces").as("ug_pieces"),
          col("n_unpriced").as("ug_unpriced"),
          col("fertility").as("ug_fertility"))
      bpe.join(ug, Seq("source")).orderBy("source")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             ug_w AS MATERIALIZED (
               SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
                 SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
                 FROM documents) GROUP BY 1),
             ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
             ${unigramDpRound("qq_", "ug_w", 1, s"ug_v$ugR", ugL, ugM)
               .mkString(",\n             ")},
             dw AS MATERIALIZED (
               SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
               FROM documents),
             bpe_card AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                      CAST(sum(len(w.syms)) AS BIGINT) AS bpe_pieces
               FROM dw JOIN w$bpeK w ON w.word = dw.word GROUP BY 1),
             ug_card AS MATERIALIZED (
               SELECT dw.source,
                      CAST(sum(CASE WHEN f.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_priced,
                      CAST(sum(COALESCE(f.k, 0)) AS BIGINT) AS ug_pieces,
                      CAST(sum(CASE WHEN f.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ug_unpriced
               FROM dw LEFT JOIN qq_fin1 f ON f.word = dw.word GROUP BY 1)
            SELECT b.source, b.n_words, b.bpe_pieces,
                   CASE WHEN b.n_words > 0 THEN
                     CAST(b.bpe_pieces AS DOUBLE) / CAST(b.n_words AS DOUBLE)
                   END AS bpe_fertility,
                   u.ug_pieces, u.ug_unpriced,
                   CASE WHEN u.n_priced > 0 THEN
                     CAST(u.ug_pieces AS DOUBLE) / CAST(u.n_priced AS DOUBLE)
                   END AS ug_fertility
            FROM bpe_card b JOIN ug_card u ON u.source = b.source
            ORDER BY b.source"""))

  /** UNIGRAM-priced sequence packing
    * ([[Packing.packCountedSequences]] ∘
    * [[graft.ext.Unigram.pieceCounts]] — x107's batch-assembly layout
    * re-priced in the x119 tokenizer's units; same distributed prefix
    * sum, fed by the unigram scoring DP's broadcast pricing join). */
  private val x123 = Q("x123_unigram_packing",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      val probs = graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val pc = graft.ext.Unigram.pieceCounts(docs, "doc_id", "text",
        probs, ugL)
      Packing.packCountedSequences(
          pc.select(col("doc_id"), col("n_pieces")),
          "doc_id", "n_pieces", windowTokens = 512)
        .orderBy("doc_id")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    ${unigramDpRound("qq_", "ug_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
    pcnt AS MATERIALIZED (
      SELECT dw.doc_id, CAST(sum(COALESCE(f.k, 0)) AS BIGINT) AS n_pieces
      FROM dw LEFT JOIN qq_fin1 f ON f.word = dw.word GROUP BY 1),
    costs AS MATERIALIZED (
      SELECT d.doc_id, COALESCE(pcnt.n_pieces, 0) AS n_tokens
      FROM documents d LEFT JOIN pcnt ON pcnt.doc_id = d.doc_id),
    laid AS MATERIALIZED (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      FROM costs)
            SELECT doc_id, n_tokens, "offset",
                   "offset" // 512 AS bin_start,
                   CASE WHEN n_tokens = 0 THEN "offset" // 512
                        ELSE ("offset" + n_tokens - 1) // 512 END AS bin_end
            FROM laid ORDER BY doc_id"""))

  /** Span-corruption MATERIALIZER
    * ([[graft.ext.SpanCorruption.materialize]] — x116's span table
    * rendered into the actual T5 training pair: input with sentinels
    * replacing each span, target replaying sentinel + span tokens;
    * SpanCorruptionSpec pins the substitution round-trip). Fragment
    * order keys (token 2p, sentinel 2·start[−1]) replay identically in
    * the oracle's ORDER BY string_agg. */
  private val x124 = Q("x124_span_corruption_materialize",
    (s, d) => graft.ext.SpanCorruption.materialize(documents(s, d),
        "doc_id", "text", corruptionRate = 0.15, spanLen = 3,
        seed = "t5-r19")
      .orderBy("doc_id"),
    Some(s"""WITH ${spanMaterializeSql("t5-r19", "documents")}
            SELECT d.doc_id,
                   COALESCE(sc_inp.input_text, '') AS input_text,
                   COALESCE(sc_tgt.target_text, '') AS target_text,
                   COALESCE(sc_ns.n, 0) AS n_spans
            FROM documents d
            LEFT JOIN sc_inp USING (doc_id)
            LEFT JOIN sc_tgt USING (doc_id)
            LEFT JOIN sc_ns USING (doc_id)
            ORDER BY d.doc_id"""))

  /** x124's materializer CTE chain over [[spanCorruptSql]]'s span
    * table, parameterized by the source CTE so x134's objective
    * mixture can splice it over its span-assigned subset — one
    * materializer text, two checked call sites. Exposes `sc_inp`
    * (doc_id, input_text), `sc_tgt` (doc_id, target_text), `sc_ns`
    * (doc_id, n). */
  private def spanMaterializeSql(seed: String, src: String): String =
    s"""${spanCorruptSql(seed, src)},
             sc_tk AS MATERIALIZED (
               SELECT doc_id, CAST(u.t.p AS BIGINT) AS pos, u.t.s AS tok
               FROM sc_tw, unnest(list_transform(generate_series(1, len(w)),
                 i -> {'p': i - 1, 's': w[CAST(i AS INT)]})) AS u(t)
               WHERE len(w) >= 1),
             sc_cls AS MATERIALIZED (
               SELECT sc_tk.doc_id, sc_tk.pos, sc_tk.tok, s.span_idx, s.start_pos
               FROM sc_tk LEFT JOIN sc_spans s ON s.doc_id = sc_tk.doc_id
                 AND sc_tk.pos BETWEEN s.start_pos AND s.end_pos),
             sc_inp AS MATERIALIZED (
               SELECT doc_id, string_agg(s, ' ' ORDER BY k) AS input_text
               FROM (
                 SELECT doc_id,
                        CASE WHEN span_idx IS NULL THEN pos * 2
                             ELSE start_pos * 2 END AS k,
                        CASE WHEN span_idx IS NULL THEN tok
                             ELSE '<extra_id_' || CAST(span_idx AS VARCHAR) || '>' END AS s
                 FROM sc_cls WHERE span_idx IS NULL OR pos = start_pos)
               GROUP BY 1),
             sc_tgt AS MATERIALIZED (
               SELECT doc_id, string_agg(s, ' ' ORDER BY k) AS target_text
               FROM (
                 SELECT doc_id, pos * 2 AS k, tok AS s FROM sc_cls
                 WHERE span_idx IS NOT NULL
                 UNION ALL
                 SELECT doc_id, start_pos * 2 - 1 AS k,
                        '<extra_id_' || CAST(span_idx AS VARCHAR) || '>' AS s
                 FROM sc_spans)
               GROUP BY 1),
             sc_ns AS MATERIALIZED (
               SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sc_spans
               GROUP BY 1)"""

  /** DEDUP-DISCOUNTED budget plan — the composition the
    * data-constrained planning literature actually prescribes: epoch
    * budgets count UNIQUE tokens, so planning on a corpus whose
    * sources carry different duplication rates misallocates (an
    * inflated source looks bigger than it is, absorbs budget, caps
    * later than it should). The corpus duplicates the doc_id % 40 < 10
    * slice (sources src0–src9 only — VARIED inflation by
    * construction); the plan runs on the raw corpus AND on the
    * exact-dedup canonical corpus ([[ExactDedup.dedup]]'s min-id
    * keep), each against 1.8× its own mass, and the card reports the
    * per-source inflation and the allocation shift the dedup discount
    * causes. */
  private val x125 = Q("x125_dedup_budget_plan",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 40 < 10)
        .select((col("doc_id") + 600000L).as("doc_id"), col("source"),
          col("text")))
      val canon = ExactDedup.dedup(corpus, "doc_id", "text")
        .select(col("canonical_id").as("doc_id"))
      // materialized once: the token-count action AND the plan both
      // consume it — without this the dedup subplan runs twice
      val unique = corpus.join(canon, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val raw = Mixing.budgetPlan(corpus, "source", "text", budgetWeights,
          corpusTokens(corpus) * 9L / 5L, maxEpochs = 2)
        .select(col("source"), col("n_tokens").as("raw_tokens"),
          col("capped").as("raw_capped"),
          col("alloc_tokens").as("raw_alloc"))
      val uq = Mixing.budgetPlan(unique, "source", "text", budgetWeights,
          corpusTokens(unique) * 9L / 5L, maxEpochs = 2)
        .select(col("source"), col("n_tokens").as("unique_tokens"),
          col("capped").as("unique_capped"),
          col("alloc_tokens").as("unique_alloc"))
      raw.join(uq, Seq("source"))
        .withColumn("dup_inflation", col("raw_tokens").cast("double") /
          col("unique_tokens").cast("double"))
        .withColumn("alloc_shift", col("raw_alloc") - col("unique_alloc"))
        .orderBy("source")
    },
    Some(s"""WITH corpus AS MATERIALIZED (
               SELECT doc_id, source, text FROM documents
               UNION ALL
               SELECT doc_id + 600000, source, text FROM documents
               WHERE doc_id % 40 < 10),
             fpc AS MATERIALIZED (
               SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                      min(doc_id) AS cid
               FROM corpus GROUP BY 1),
             uniqd AS MATERIALIZED (
               SELECT c.doc_id, c.source, c.text
               FROM corpus c JOIN fpc ON fpc.cid = c.doc_id),
             ${budgetPlanSqlOver("corpus", "r_")},
             ${budgetPlanSqlOver("uniqd", "u_")}
            SELECT r.source,
                   r.n_tokens AS raw_tokens, r.capped AS raw_capped,
                   r.alloc_tokens AS raw_alloc,
                   u.n_tokens AS unique_tokens, u.capped AS unique_capped,
                   u.alloc_tokens AS unique_alloc,
                   CAST(r.n_tokens AS DOUBLE) / CAST(u.n_tokens AS DOUBLE)
                     AS dup_inflation,
                   r.alloc_tokens - u.alloc_tokens AS alloc_shift
            FROM r_planned r JOIN u_planned u ON u.source = r.source
            ORDER BY r.source"""))

  /** SOFT quality sampling ([[graft.ext.Sampling.softSample]] — keep
    * each doc with probability equal to its own x03 quality score, the
    * published FineWeb-Edu-style soft alternative to a hard threshold
    * cliff; the draw is the engine-wide seeded-hash Bernoulli). The
    * checked output is the per-source audit: docs, kept, the quantized
    * mean target rate (floor(score·2²⁰) int64 sums — the x53/x62
    * order-free pattern) and the realized keep rate next to it. */
  private val x126 = Q("x126_soft_quality_sample",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("source"),
        col("text"))
      val rated = docs.withColumn("__rate", TA.qualityScore(col("text")))
      val kept = graft.ext.Sampling.softSample(rated, "doc_id", "__rate",
          seed = "soft-r19")
        .select(col("doc_id"), lit(1L).as("__kept"))
      rated.join(kept, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("__kept"), lit(0L))).as("n_kept"),
          sum(floor(col("__rate") * lit(1048576.0)).cast("long"))
            .as("__rate_q"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          (col("__rate_q").cast("double") / lit(1048576.0) /
            col("n_docs").cast("double")).as("mean_target_rate"),
          (col("n_kept").cast("double") / col("n_docs").cast("double"))
            .as("realized_rate"))
        .orderBy("source")
    },
    Some(s"""WITH $scoreSql,
             drawn AS MATERIALIZED (
               SELECT doc_id, source, score,
                      (CAST(CAST('0x'||substr(md5('soft-r19:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                        < CAST(floor(least(greatest(score, 0.0), 1.0) * 10000.0) AS BIGINT)) AS kept
               FROM qs)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CAST(floor(score * 1048576.0) AS BIGINT)) AS DOUBLE)
                     / 1048576.0 / count(*) AS mean_target_rate,
                   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) AS realized_rate
            FROM drawn GROUP BY 1 ORDER BY source"""))

  /** Fill-in-the-middle construction ([[graft.ext.Fim.transform]] —
    * the published code-model infilling transform: a seeded 50% of
    * eligible docs re-arrange as `<fim_prefix> P <fim_suffix> S
    * <fim_middle> M` with two seeded interior cuts; the rest pass
    * through as the AR half of the FIM mix. FimSpec pins PSM
    * reconstruction (P ⧺ M ⧺ S = doc) and cut-interiority; the oracle
    * replays the FULL-WIDTH 60-bit cut draw — a position draw, not a
    * 10⁴ rate bucket, so long documents cut uniformly — and the
    * inclusive-slice rendering). */
  private val x127 = Q("x127_fim_transform",
    (s, d) => graft.ext.Fim.transform(documents(s, d), "doc_id", "text",
        fimRate = 0.5, seed = "fim-r20")
      .orderBy("doc_id"),
    Some("""WITH ft AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS w
               FROM documents),
             base AS MATERIALIZED (
               SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens,
                      CAST(CAST('0x'||substr(md5('fim-r20:apply:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 AS ab,
                      CAST(CAST('0x'||substr(md5('fim-r20:c1:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS a,
                      CAST(CAST('0x'||substr(md5('fim-r20:c2:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS b
               FROM ft),
             fimd AS MATERIALIZED (
               SELECT doc_id, w, n_tokens,
                      (n_tokens >= 3 AND ab < 5000) AS fim,
                      CASE WHEN n_tokens >= 3 AND ab < 5000
                           THEN CAST(least(a, b) AS BIGINT) END AS c1,
                      CASE WHEN n_tokens >= 3 AND ab < 5000
                           THEN CAST(greatest(a, b) AS BIGINT) END AS c2
               FROM base)
            SELECT doc_id, n_tokens, fim, c1, c2,
                   CASE WHEN fim THEN
                     '<fim_prefix> ' || COALESCE(array_to_string(w[1:CAST(c1 AS INT)], ' '), '')
                     || ' <fim_suffix> ' || COALESCE(array_to_string(w[CAST(c2 + 1 AS INT):CAST(n_tokens AS INT)], ' '), '')
                     || ' <fim_middle> ' || COALESCE(array_to_string(w[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' '), '')
                   ELSE COALESCE(array_to_string(w, ' '), '') END AS psm_text
            FROM fimd ORDER BY doc_id"""))

  /** Packed-WINDOW manifest ([[Packing.windowManifest]] over x123's
    * unigram-priced layout — the batch-assembly artifact a loader
    * consumes: per (window, document segment), the in-window offset,
    * token length, and the head/tail flags an attention-mask builder
    * keys on; WindowManifestSpec pins exact window tiling). Pure
    * integer arithmetic off the prefix-sum layout; the oracle explodes
    * the same window range per doc. */
  private val x128 = Q("x128_window_manifest",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      val probs = graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val pc = graft.ext.Unigram.pieceCounts(docs, "doc_id", "text",
        probs, ugL)
      val packed = Packing.packCountedSequences(
        pc.select(col("doc_id"), col("n_pieces")),
        "doc_id", "n_pieces", windowTokens = 512)
      Packing.windowManifest(packed, "doc_id", windowTokens = 512)
        .orderBy("bin", "bin_offset")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    ${unigramDpRound("qq_", "ug_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
    pcnt AS MATERIALIZED (
      SELECT dw.doc_id, CAST(sum(COALESCE(f.k, 0)) AS BIGINT) AS n_pieces
      FROM dw LEFT JOIN qq_fin1 f ON f.word = dw.word GROUP BY 1),
    costs AS MATERIALIZED (
      SELECT d.doc_id, COALESCE(pcnt.n_pieces, 0) AS n_tokens
      FROM documents d LEFT JOIN pcnt ON pcnt.doc_id = d.doc_id),
    laid AS MATERIALIZED (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      FROM costs),
    segs AS MATERIALIZED (
      SELECT doc_id, n_tokens, "offset",
             CAST(unnest(generate_series("offset" // 512,
               ("offset" + n_tokens - 1) // 512)) AS BIGINT) AS bin
      FROM laid WHERE n_tokens > 0)
            SELECT bin, doc_id,
                   greatest(0, "offset" - bin * 512) AS bin_offset,
                   least(512, "offset" + n_tokens - bin * 512)
                     - greatest(0, "offset" - bin * 512) AS seg_len,
                   (bin = "offset" // 512) AS is_head,
                   (bin = ("offset" + n_tokens - 1) // 512) AS is_tail
            FROM segs ORDER BY bin, bin_offset"""))

  /** The planned mixture materialized into a TRAINING STREAM — the
    * end-to-end release chain: x112's epoch-capped budget plan →
    * [[Mixing.materializeMixture]] (per-doc copies) →
    * [[CorpusShuffle.order]] over the (doc, copy) grain (seeded md5
    * permutation + fixed-size shards — repeated copies of a document
    * scatter across the stream instead of clumping, which is the
    * point of shuffling a multi-epoch mixture). Output is the x41
    * order surface at the mixture grain. */
  private val x129 = Q("x129_mixture_stream",
    (s, d) => {
      val docs = documents(s, d)
      val factors = budgetPlanFixture(s, d).select(col("source"),
        col("n_tokens"), col("epochs").as("repeat_factor"))
      val mixture = Mixing.materializeMixture(docs, "source", "doc_id",
          factors)
        .select(concat_ws(":", col("doc_id"), col("copy_idx")).as("mix_id"))
      CorpusShuffle.order(mixture, "mix_id", seed = "stream-r19",
          shardSize = 128L)
        .orderBy("pos")
    },
    Some(s"""WITH $budgetPlanSql,
             f AS MATERIALIZED (
               SELECT source, n_tokens,
                      CASE WHEN n_tokens = 0 THEN 0.0
                           ELSE CAST(alloc_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                      END AS repeat_factor
               FROM planned),
             md AS MATERIALIZED (
               SELECT tk.doc_id,
                      CAST(floor(f.repeat_factor) AS BIGINT)
                        + (CASE WHEN CAST(CAST('0x'||substr(md5(CAST(tk.doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000
                                < CAST(floor(f.repeat_factor * 10000.0) AS BIGINT)
                                  - CAST(floor(f.repeat_factor) AS BIGINT) * 10000
                                THEN 1 ELSE 0 END) AS n_copies
               FROM documents tk JOIN f USING (source)),
             mix AS MATERIALIZED (
               SELECT CAST(doc_id AS VARCHAR) || ':'
                        || CAST(unnest(range(0, n_copies)) AS VARCHAR) AS mix_id
               FROM md WHERE n_copies > 0),
             k AS MATERIALIZED (
               SELECT mix_id, md5('stream-r19:' || mix_id) AS shuffle_key
               FROM mix),
             p AS MATERIALIZED (
               SELECT mix_id, shuffle_key,
                      CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS pos
               FROM k)
            SELECT mix_id, shuffle_key, pos,
                   CAST(pos // 128 AS BIGINT) AS shard_id
            FROM p ORDER BY pos"""))

  /** TOKEN-ID TRAINING STREAM ([[graft.ext.TokenIds.windowTokenIds]] —
    * the loader-facing end of the pipeline: the x105 persisted BPE
    * tokenizer's pieces get dense ids in piece sort order, every doc
    * encodes to its id stream, and the x128 window manifest carries
    * each segment's id slice — the artifact a batch loader actually
    * ingests; until here the chain stopped at text). The oracle replays
    * the id assignment as `row_number() OVER (ORDER BY piece)` over the
    * merge cascade's final vocabulary and slices the same inclusive
    * bounds; TokenIdsSpec pins that per-doc concat(segment ids) round-
    * trips to the x103 encoding. W = 64 so multi-window docs and
    * continuation segments provably occur. */
  private val x130 = Q("x130_token_id_stream",
    (s, d) => {
      val docs = documents(s, d)
      Bpe.writeTokenizerStore(docs, "text", numMerges = bpeK,
        table = "x130_tok")
      graft.ext.TokenIds.windowTokenIds(docs, "doc_id", "text", "x130_tok",
          windowTokens = 64)
        .select(col("bin"), col("doc_id"), col("bin_offset"), col("seg_len"),
          col("is_head"), col("is_tail"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"))
        .orderBy("bin", "bin_offset")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             pid AS MATERIALIZED (
               SELECT piece,
                      CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS pid
               FROM (SELECT DISTINCT unnest(syms) AS piece FROM w$bpeK)),
             wsym AS MATERIALIZED (
               SELECT word, u.e.j AS j, u.e.s AS s
               FROM w$bpeK, unnest(list_transform(generate_series(1, len(syms)),
                 i -> {'j': i, 's': syms[CAST(i AS INT)]})) AS u(e)),
             wid AS MATERIALIZED (
               SELECT ws.word, list(pid.pid ORDER BY ws.j) AS wids
               FROM wsym ws JOIN pid ON pid.piece = ws.s GROUP BY ws.word),
             dw AS MATERIALIZED (
               SELECT doc_id, u.e.p AS p, u.e.wd AS word
               FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                     FROM documents) t,
                    unnest(list_transform(generate_series(1, len(ws)),
                      i -> {'p': i, 'wd': ws[CAST(i AS INT)]})) AS u(e)
               WHERE len(ws) >= 1),
             docids AS MATERIALIZED (
               SELECT dw.doc_id, flatten(list(wid.wids ORDER BY dw.p)) AS ids
               FROM dw JOIN wid ON wid.word = dw.word GROUP BY dw.doc_id),
             costs AS MATERIALIZED (
               SELECT d.doc_id, CAST(COALESCE(len(di.ids), 0) AS BIGINT) AS n_tokens,
                      di.ids AS ids
               FROM documents d LEFT JOIN docids di USING (doc_id)),
             laid AS MATERIALIZED (
               SELECT doc_id, n_tokens, ids,
                      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
               FROM costs),
             segs AS MATERIALIZED (
               SELECT doc_id, n_tokens, ids, "offset",
                      CAST(unnest(generate_series("offset" // 64,
                        ("offset" + n_tokens - 1) // 64)) AS BIGINT) AS bin
               FROM laid WHERE n_tokens > 0),
             geo AS MATERIALIZED (
               SELECT doc_id, ids, "offset", bin,
                      greatest(0, "offset" - bin * 64) AS bin_offset,
                      least(64, "offset" + n_tokens - bin * 64)
                        - greatest(0, "offset" - bin * 64) AS seg_len,
                      (bin = "offset" // 64) AS is_head,
                      (bin = ("offset" + n_tokens - 1) // 64) AS is_tail
               FROM segs)
            SELECT bin, doc_id, bin_offset, seg_len, is_head, is_tail,
                   array_to_string(
                     ids[CAST(bin * 64 + bin_offset - "offset" + 1 AS INT)
                         : CAST(bin * 64 + bin_offset - "offset" + seg_len AS INT)],
                     ' ') AS ids
            FROM geo ORDER BY bin, bin_offset"""))

  /** Char-fallback unigram pricing
    * ([[graft.ext.Unigram.pieceCountsWithFallback]] — the
    * SentencePiece-style coverage floor: DP-unsegmentable words price
    * per character when their characters sit inside the declared a–z
    * alphabet, so the budget/packing mass `total_tokens` accounts for
    * out-of-coverage words instead of silently under-reading them).
    * The doc_id % 7 fixture docs carry appended foreign words
    * ('zebra xylo' — 'x'/'z' never occur in the corpus, so the DP
    * provably fails and the fallback provably fires: fallback_tokens
    * = 9 on those docs), and with the full Latin floor `n_unpriced`
    * is provably 0 everywhere — narrower floors are UnigramSpec's
    * pin. */
  private val x131 = Q("x131_unigram_fallback_price",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      val probs = graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" zebra xylo")))
          .otherwise(col("text")).as("text"))
      graft.ext.Unigram.pieceCountsWithFallback(scored, "doc_id", "text",
          probs, ugL)
        .orderBy("doc_id")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    scored AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' zebra xylo'
                          ELSE text END AS text FROM documents),
    qq_w AS MATERIALIZED (
      SELECT word, CAST(1 AS BIGINT) AS cnt FROM (
        SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM scored)),
    ${unigramDpRound("qq_", "qq_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM scored),
    kk AS MATERIALIZED (
      SELECT word, CAST(k AS BIGINT) AS np FROM qq_fin1)
            SELECT d.doc_id,
                   CAST(COALESCE(agg.n_words, 0) AS BIGINT) AS n_words,
                   CAST(COALESCE(agg.n_pieces, 0) AS BIGINT) AS n_pieces,
                   CAST(COALESCE(agg.fallback_words, 0) AS BIGINT) AS fallback_words,
                   CAST(COALESCE(agg.fallback_tokens, 0) AS BIGINT) AS fallback_tokens,
                   CAST(COALESCE(agg.n_unpriced, 0) AS BIGINT) AS n_unpriced,
                   CAST(COALESCE(agg.n_pieces, 0)
                     + COALESCE(agg.fallback_tokens, 0) AS BIGINT) AS total_tokens
            FROM documents d LEFT JOIN (
              SELECT dw.doc_id, count(*) AS n_words,
                     sum(COALESCE(kk.np, 0)) AS n_pieces,
                     sum(CASE WHEN kk.np IS NULL
                              AND regexp_full_match(dw.word, '[a-z]+')
                         THEN 1 ELSE 0 END) AS fallback_words,
                     sum(CASE WHEN kk.np IS NULL
                              AND regexp_full_match(dw.word, '[a-z]+')
                         THEN length(dw.word) ELSE 0 END) AS fallback_tokens,
                     sum(CASE WHEN kk.np IS NULL
                              AND NOT regexp_full_match(dw.word, '[a-z]+')
                         THEN 1 ELSE 0 END) AS n_unpriced
              FROM dw LEFT JOIN kk ON kk.word = dw.word
              GROUP BY 1) agg ON agg.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** Winnow-cluster dedup ([[graft.ext.Winnowing.dedupByOverlap]] —
    * the MOSS pipeline's resolution step: x111's winnowed overlap
    * pairs → star-contracted connected components (x35's machinery) →
    * min-id canonical keep/drop, one row per input doc). Same
    * mutated-twin fixture as x111, so every original–twin pair
    * provably clusters and the twin provably drops; the oracle
    * replays the pair cascade plus the x35 recursive reach.
    * WinnowDedupSpec pins the kept set on a seeded fixture; the
    * store-served variant ([[graft.ext.Winnowing.dedupAgainstStore]])
    * reads the x114 index in place — PlanSpec pins the bucketed
    * Exchange-free store side. */
  private val x132 = Q("x132_winnow_dedup",
    (s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(lit("mutated twin prefix "), col("text")).as("text")))
      graft.ext.Winnowing.dedupByOverlap(corpus, "doc_id", "text",
          k = 3, w = 4, minShared = 2L)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE corpus AS MATERIALIZED (
               SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 300000, 'mutated twin prefix ' || text
               FROM documents WHERE doc_id % 9 = 0),
             ${winnowSql("", "corpus", 3, 4)},
             rare AS MATERIALIZED (
               SELECT fp FROM fps GROUP BY 1 HAVING count(*) <= 64),
             kept AS MATERIALIZED (
               SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
             prs AS MATERIALIZED (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 2),
             e(u, v) AS (SELECT id_a, id_b FROM prs
                         UNION SELECT id_b, id_a FROM prs),
             reach(u, v) AS (SELECT u, v FROM e
                             UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
             canon AS MATERIALIZED (
               SELECT u AS doc_id, least(u, min(v)) AS canonical_id
               FROM reach GROUP BY u)
            SELECT c.doc_id,
                   COALESCE(canon.canonical_id, c.doc_id) AS canonical_id,
                   (COALESCE(canon.canonical_id, c.doc_id) = c.doc_id) AS keep
            FROM corpus c LEFT JOIN canon ON canon.doc_id = c.doc_id
            ORDER BY c.doc_id"""))

  /** Packed-layout efficiency card ([[Packing.layoutCard]] over x128's
    * unigram-priced window manifest — segments-per-window
    * distribution, head-vs-continuation split (continuations ARE the
    * boundary crossings an attention mask must cut), and padding
    * waste, which concat-and-chunk confines to the stream's final
    * window — WindowManifestSpec pins the property plus
    * Σ window_tokens = Σ n_tokens). Pure int64 rollups: window grain,
    * then bucket grain. */
  private val x133 = Q("x133_packing_card",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      val probs = graft.ext.Unigram.fit(docs, "text", vocabSize = ugV,
          maxPieceLen = ugL, rounds = ugR)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      val pc = graft.ext.Unigram.pieceCounts(docs, "doc_id", "text",
        probs, ugL)
      val packed = Packing.packCountedSequences(
        pc.select(col("doc_id"), col("n_pieces")),
        "doc_id", "n_pieces", windowTokens = 512)
      Packing.layoutCard(Packing.windowManifest(packed, "doc_id", 512), 512)
        .orderBy("segs_per_window")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    ${unigramDpRound("qq_", "ug_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    dw AS MATERIALIZED (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
    pcnt AS MATERIALIZED (
      SELECT dw.doc_id, CAST(sum(COALESCE(f.k, 0)) AS BIGINT) AS n_pieces
      FROM dw LEFT JOIN qq_fin1 f ON f.word = dw.word GROUP BY 1),
    costs AS MATERIALIZED (
      SELECT d.doc_id, COALESCE(pcnt.n_pieces, 0) AS n_tokens
      FROM documents d LEFT JOIN pcnt ON pcnt.doc_id = d.doc_id),
    laid AS MATERIALIZED (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      FROM costs),
    segs AS MATERIALIZED (
      SELECT doc_id, n_tokens, "offset",
             CAST(unnest(generate_series("offset" // 512,
               ("offset" + n_tokens - 1) // 512)) AS BIGINT) AS bin
      FROM laid WHERE n_tokens > 0),
    geo AS MATERIALIZED (
      SELECT bin,
             least(512, "offset" + n_tokens - bin * 512)
               - greatest(0, "offset" - bin * 512) AS seg_len,
             (bin = "offset" // 512) AS is_head
      FROM segs),
    perwin AS MATERIALIZED (
      SELECT bin, CAST(count(*) AS BIGINT) AS segs,
             CAST(sum(seg_len) AS BIGINT) AS toks,
             CAST(sum(CASE WHEN is_head THEN 1 ELSE 0 END) AS BIGINT) AS heads
      FROM geo GROUP BY 1)
            SELECT segs AS segs_per_window,
                   CAST(count(*) AS BIGINT) AS n_windows,
                   CAST(sum(toks) AS BIGINT) AS window_tokens,
                   CAST(sum(512 - toks) AS BIGINT) AS padding_tokens,
                   CAST(sum(heads) AS BIGINT) AS head_segments,
                   CAST(sum(segs - heads) AS BIGINT) AS continuation_segments
            FROM perwin GROUP BY 1 ORDER BY segs_per_window"""))

  /** Objective mixture ([[graft.ext.Objectives.mixAudit]] — the UL2 /
    * code-model recipe step: ONE seeded objective per document (25%
    * span corruption, 25% FIM, 50% AR), each leg rendered through its
    * own checked transform under a derived sub-seed, unioned with an
    * objective column, audited per source: realized vs target rates
    * plus the exact char masses that pin the RENDERINGS (not just the
    * assignment) through the oracle — which splices the x124
    * materializer cascade and the x127 FIM cascade over the assigned
    * subsets). */
  private val x134 = Q("x134_objective_mixture",
    (s, d) => graft.ext.Objectives.mixAudit(documents(s, d), "doc_id",
        "text", "source", seed = "x134-r20", spanShare = 0.25,
        fimShare = 0.25)
      .orderBy("source", "objective"),
    Some(s"""WITH asg AS MATERIALIZED (
               SELECT doc_id, source, text,
                      CASE WHEN b < 2500 THEN 'span'
                           WHEN b < 5000 THEN 'fim'
                           ELSE 'ar' END AS objective
               FROM (SELECT doc_id, source, text,
                       CAST(CAST('0x'||substr(md5('x134-r20:obj:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 AS b
                     FROM documents)),
             sdocs AS MATERIALIZED (
               SELECT doc_id, text FROM asg WHERE objective = 'span'),
             ${spanMaterializeSql("x134-r20:span", "sdocs")},
             span_leg AS MATERIALIZED (
               SELECT d.doc_id, 'span' AS objective,
                      COALESCE(sc_inp.input_text, '') AS input_text,
                      COALESCE(sc_tgt.target_text, '') AS target_text
               FROM sdocs d
               LEFT JOIN sc_inp USING (doc_id)
               LEFT JOIN sc_tgt USING (doc_id)),
             fdocs AS MATERIALIZED (
               SELECT doc_id, text FROM asg WHERE objective = 'fim'),
             f_ft AS MATERIALIZED (
               SELECT doc_id, regexp_extract_all(lower(trim(text)), '\\S+') AS w
               FROM fdocs),
             f_base AS MATERIALIZED (
               SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens,
                      CAST(CAST('0x'||substr(md5('x134-r20:fim:c1:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS a,
                      CAST(CAST('0x'||substr(md5('x134-r20:fim:c2:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS b
               FROM f_ft),
             f_fimd AS MATERIALIZED (
               SELECT doc_id, w, n_tokens, (n_tokens >= 3) AS fim,
                      CASE WHEN n_tokens >= 3
                           THEN CAST(least(a, b) AS BIGINT) END AS c1,
                      CASE WHEN n_tokens >= 3
                           THEN CAST(greatest(a, b) AS BIGINT) END AS c2
               FROM f_base),
             fim_leg AS MATERIALIZED (
               SELECT doc_id, 'fim' AS objective, '' AS input_text,
                      CASE WHEN fim THEN
                        '<fim_prefix> ' || COALESCE(array_to_string(w[1:CAST(c1 AS INT)], ' '), '')
                        || ' <fim_suffix> ' || COALESCE(array_to_string(w[CAST(c2 + 1 AS INT):CAST(n_tokens AS INT)], ' '), '')
                        || ' <fim_middle> ' || COALESCE(array_to_string(w[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' '), '')
                      ELSE COALESCE(array_to_string(w, ' '), '') END AS target_text
               FROM f_fimd),
             ar_leg AS MATERIALIZED (
               SELECT doc_id, 'ar' AS objective, '' AS input_text,
                      COALESCE(array_to_string(regexp_extract_all(lower(trim(text)), '\\S+'), ' '), '') AS target_text
               FROM asg WHERE objective = 'ar'),
             legs AS MATERIALIZED (
               SELECT * FROM span_leg
               UNION ALL SELECT * FROM fim_leg
               UNION ALL SELECT * FROM ar_leg),
             tot AS MATERIALIZED (
               SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1)
            SELECT a.source, l.objective,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS realized_rate,
                   CAST(CASE l.objective WHEN 'span' THEN 0.25
                        WHEN 'fim' THEN 0.25 ELSE 0.5 END AS DOUBLE) AS target_rate,
                   CAST(sum(length(l.input_text)) AS BIGINT) AS sum_input_chars,
                   CAST(sum(length(l.target_text)) AS BIGINT) AS sum_target_chars
            FROM legs l
            JOIN asg a USING (doc_id)
            JOIN tot ON tot.source = a.source
            GROUP BY a.source, l.objective, tot.n
            ORDER BY a.source, l.objective"""))

  /** UNIGRAM token-id training stream
    * ([[graft.ext.TokenIds.windowTokenIdsUnigram]] — x130's loader
    * stream served from the PERSISTED unigram store instead of the BPE
    * store, proving the id path is tokenizer-agnostic, with the
    * x131 coverage completion rendered the way a LOADER needs it:
    * DP-failures inside the a–y floor emit per-character pieces, and
    * 'zebra' — whose 'z' is outside the fixture's floor — emits ONE
    * visible `<unk>` id (the published unk_id move; a loader cannot
    * *report* a gap the way a pricing card can). The oracle replays
    * the Viterbi piece walk in forward order, the fallback rendering,
    * the dense id assignment, and the slice bounds). */
  private val x135 = Q("x135_unigram_token_stream",
    (s, d) => {
      val docs = documents(s, d)
      requireWordBound(docs)
      graft.ext.Unigram.writeUnigramStore(docs, "text", vocabSize = ugV,
        maxPieceLen = ugL, rounds = ugR, table = "x135_ug")
      val scored = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" zebra xylo")))
          .otherwise(col("text")).as("text"))
      graft.ext.TokenIds.windowTokenIdsUnigram(scored, "doc_id", "text",
          "x135_ug", windowTokens = 64,
          fallbackChars = ('a' to 'y').map(_.toString).toSet)
        .select(col("bin"), col("doc_id"), col("bin_offset"), col("seg_len"),
          col("is_head"), col("is_tail"),
          array_join(col("ids").cast("array<string>"), " ").as("ids"))
        .orderBy("bin", "bin_offset")
    },
    Some(s"""WITH ug_w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents) GROUP BY 1),
    ${unigramSql("ug_w", ugR, ugL, ugV, ugM)},
    scored AS MATERIALIZED (
      SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' zebra xylo'
                          ELSE text END AS text FROM documents),
    qq_w AS MATERIALIZED (
      SELECT word, CAST(1 AS BIGINT) AS cnt FROM (
        SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM scored)),
    ${unigramDpRound("qq_", "qq_w", 1, s"ug_v$ugR", ugL, ugM)
      .mkString(",\n    ")},
    qq_ow AS MATERIALIZED (
      ${(1 to ugM).map(st => s"SELECT word, pos, piece FROM qq_walk1_$st")
        .mkString("\n      UNION ALL ")}),
    segp AS MATERIALIZED (
      SELECT word, list(piece ORDER BY pos) AS syms FROM qq_ow GROUP BY 1),
    wp AS MATERIALIZED (
      SELECT w.word,
             CASE WHEN segp.word IS NOT NULL THEN segp.syms
                  WHEN regexp_full_match(w.word, '[a-y]+')
                    THEN list_transform(generate_series(1, length(w.word)),
                      i -> substr(w.word, CAST(i AS INT), 1))
                  ELSE ['<unk>'] END AS syms
      FROM qq_w w LEFT JOIN segp USING (word)),
    pid AS MATERIALIZED (
      SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS pid
      FROM (SELECT DISTINCT unnest(syms) AS piece FROM wp)),
    wsym AS MATERIALIZED (
      SELECT word, u.e.j AS j, u.e.s AS s
      FROM wp, unnest(list_transform(generate_series(1, len(syms)),
        i -> {'j': i, 's': syms[CAST(i AS INT)]})) AS u(e)),
    wid AS MATERIALIZED (
      SELECT ws.word, list(pid.pid ORDER BY ws.j) AS wids
      FROM wsym ws JOIN pid ON pid.piece = ws.s GROUP BY ws.word),
    dw AS MATERIALIZED (
      SELECT doc_id, u.e.p AS p, u.e.wd AS word
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
            FROM scored) t,
           unnest(list_transform(generate_series(1, len(ws)),
             i -> {'p': i, 'wd': ws[CAST(i AS INT)]})) AS u(e)
      WHERE len(ws) >= 1),
    docids AS MATERIALIZED (
      SELECT dw.doc_id, flatten(list(wid.wids ORDER BY dw.p)) AS ids
      FROM dw JOIN wid ON wid.word = dw.word GROUP BY dw.doc_id),
    costs AS MATERIALIZED (
      SELECT d.doc_id, CAST(COALESCE(len(di.ids), 0) AS BIGINT) AS n_tokens,
             di.ids AS ids
      FROM documents d LEFT JOIN docids di USING (doc_id)),
    laid AS MATERIALIZED (
      SELECT doc_id, n_tokens, ids,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
      FROM costs),
    segs AS MATERIALIZED (
      SELECT doc_id, n_tokens, ids, "offset",
             CAST(unnest(generate_series("offset" // 64,
               ("offset" + n_tokens - 1) // 64)) AS BIGINT) AS bin
      FROM laid WHERE n_tokens > 0),
    geo AS MATERIALIZED (
      SELECT doc_id, ids, "offset", bin,
             greatest(0, "offset" - bin * 64) AS bin_offset,
             least(64, "offset" + n_tokens - bin * 64)
               - greatest(0, "offset" - bin * 64) AS seg_len,
             (bin = "offset" // 64) AS is_head,
             (bin = ("offset" + n_tokens - 1) // 64) AS is_tail
      FROM segs)
            SELECT bin, doc_id, bin_offset, seg_len, is_head, is_tail,
                   array_to_string(
                     ids[CAST(bin * 64 + bin_offset - "offset" + 1 AS INT)
                         : CAST(bin * 64 + bin_offset - "offset" + seg_len AS INT)],
                     ' ') AS ids
            FROM geo ORDER BY bin, bin_offset"""))

  /** WINDOW-SHARD RELEASE — the last meter of the loader chain: the
    * x130 token-id stream's windows (the unit a trainer actually
    * consumes — shuffling DOCUMENTS would split a window's segments
    * across shards) are deterministically shuffled
    * ([[CorpusShuffle.order]] at the WINDOW grain — the x129 argument,
    * one grain lower), cut into fixed-size shards, and released with
    * the x87 integrity manifest — whose `n_tokens` column, computed
    * over the window CONTENT (the space-joined id stream), is exactly
    * the shard's token-id count: the manifest's accounting unit IS the
    * loader's. Oracle replays the x130 cascade, the per-window content
    * assembly, the md5 permutation, and the manifest rollups. */
  private val x136 = Q("x136_window_shard_release",
    (s, d) => {
      val docs = documents(s, d)
      Bpe.writeTokenizerStore(docs, "text", numMerges = bpeK,
        table = "x136_tok")
      val stream = graft.ext.TokenIds.windowTokenIds(docs, "doc_id",
        "text", "x136_tok", windowTokens = 64)
      // window content: segments in offset order, one id stream string
      val windows = stream
        .groupBy(col("bin").as("win_id"))
        .agg(array_join(flatten(transform(
          array_sort(collect_list(struct(col("bin_offset"), col("ids")))),
          e => e("ids"))).cast("array<string>"), " ").as("content"))
        .localCheckpoint(true)
      val ordered = CorpusShuffle.order(windows, "win_id",
        seed = "win-r20", shardSize = 16L)
      CorpusShuffle.shardManifest(ordered, windows, "win_id", "content")
        .orderBy("shard_id")
    },
    Some(s"""WITH ${bpeCascadeSql(bpeK, 2L)},
             pid AS MATERIALIZED (
               SELECT piece,
                      CAST(row_number() OVER (ORDER BY piece) - 1 AS BIGINT) AS pid
               FROM (SELECT DISTINCT unnest(syms) AS piece FROM w$bpeK)),
             wsym AS MATERIALIZED (
               SELECT word, u.e.j AS j, u.e.s AS s
               FROM w$bpeK, unnest(list_transform(generate_series(1, len(syms)),
                 i -> {'j': i, 's': syms[CAST(i AS INT)]})) AS u(e)),
             wid AS MATERIALIZED (
               SELECT ws.word, list(pid.pid ORDER BY ws.j) AS wids
               FROM wsym ws JOIN pid ON pid.piece = ws.s GROUP BY ws.word),
             dw AS MATERIALIZED (
               SELECT doc_id, u.e.p AS p, u.e.wd AS word
               FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
                     FROM documents) t,
                    unnest(list_transform(generate_series(1, len(ws)),
                      i -> {'p': i, 'wd': ws[CAST(i AS INT)]})) AS u(e)
               WHERE len(ws) >= 1),
             docids AS MATERIALIZED (
               SELECT dw.doc_id, flatten(list(wid.wids ORDER BY dw.p)) AS ids
               FROM dw JOIN wid ON wid.word = dw.word GROUP BY dw.doc_id),
             costs AS MATERIALIZED (
               SELECT d.doc_id, CAST(COALESCE(len(di.ids), 0) AS BIGINT) AS n_tokens,
                      di.ids AS ids
               FROM documents d LEFT JOIN docids di USING (doc_id)),
             laid AS MATERIALIZED (
               SELECT doc_id, n_tokens, ids,
                      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
               FROM costs),
             segs AS MATERIALIZED (
               SELECT doc_id, n_tokens, ids, "offset",
                      CAST(unnest(generate_series("offset" // 64,
                        ("offset" + n_tokens - 1) // 64)) AS BIGINT) AS bin
               FROM laid WHERE n_tokens > 0),
             geo AS MATERIALIZED (
               SELECT ids, "offset", bin,
                      greatest(0, "offset" - bin * 64) AS bin_offset,
                      least(64, "offset" + n_tokens - bin * 64)
                        - greatest(0, "offset" - bin * 64) AS seg_len
               FROM segs),
             segtxt AS MATERIALIZED (
               SELECT bin, bin_offset,
                      array_to_string(
                        ids[CAST(bin * 64 + bin_offset - "offset" + 1 AS INT)
                            : CAST(bin * 64 + bin_offset - "offset" + seg_len AS INT)],
                        ' ') AS seg
               FROM geo),
             win AS MATERIALIZED (
               SELECT bin AS win_id,
                      string_agg(seg, ' ' ORDER BY bin_offset) AS content
               FROM segtxt GROUP BY 1),
             k AS MATERIALIZED (
               SELECT win_id, content,
                      md5('win-r20:' || CAST(win_id AS VARCHAR)) AS shuffle_key
               FROM win),
             p AS MATERIALIZED (
               SELECT win_id, content,
                      CAST(row_number() OVER (ORDER BY shuffle_key) - 1 AS BIGINT) AS pos
               FROM k)
            SELECT CAST(pos // 16 AS BIGINT) AS shard_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(regexp_extract_all(lower(trim(content)), '\\S+'))) AS BIGINT) AS n_tokens,
                   bit_xor(CAST(CAST('0x'||substr(md5(md5(CAST(win_id AS VARCHAR)) || md5(COALESCE(content, ''))),1,15) AS UBIGINT) AS BIGINT)) AS content_xor,
                   min(pos) AS pos_min, max(pos) AS pos_max
            FROM p GROUP BY 1 ORDER BY shard_id"""))

  /** FIM mix audit ([[graft.ext.Fim.audit]] — the per-source release
    * card for the x127 transform: docs, ELIGIBLE docs (≥ 3 tokens —
    * the apply draw only runs on those, so the realized rate divides
    * by them, the r19 ADVICE fix now oracle-checked), transformed
    * docs, realized rate, and the quantized mean middle-span share). */
  private val x137 = Q("x137_fim_audit",
    (s, d) => graft.ext.Fim.audit(documents(s, d), "doc_id", "text",
        "source", fimRate = 0.5, seed = "fim-r20")
      .orderBy("source"),
    Some("""WITH ft AS MATERIALIZED (
               SELECT doc_id, source,
                      regexp_extract_all(lower(trim(text)), '\S+') AS w
               FROM documents),
             base AS MATERIALIZED (
               SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
                      CAST(CAST('0x'||substr(md5('fim-r20:apply:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT) % 10000 AS ab,
                      CAST(CAST('0x'||substr(md5('fim-r20:c1:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS a,
                      CAST(CAST('0x'||substr(md5('fim-r20:c2:' || CAST(doc_id AS VARCHAR)),1,15) AS UBIGINT) AS BIGINT)
                        % greatest(1, len(w) - 1) + 1 AS b
               FROM ft),
             fimd AS MATERIALIZED (
               SELECT source, n_tokens,
                      (n_tokens >= 3 AND ab < 5000) AS fim,
                      CAST(least(a, b) AS BIGINT) AS c1,
                      CAST(greatest(a, b) AS BIGINT) AS c2
               FROM base),
             agg AS MATERIALIZED (
               SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(CASE WHEN n_tokens >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible,
                      CAST(sum(CASE WHEN fim THEN 1 ELSE 0 END) AS BIGINT) AS n_fim,
                      CAST(sum(CASE WHEN fim THEN
                        CAST(floor(CAST(c2 - c1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1048576.0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS mid_q
               FROM fimd GROUP BY 1)
            SELECT source, n_docs, n_eligible, n_fim,
                   CASE WHEN n_eligible > 0 THEN
                     CAST(n_fim AS DOUBLE) / CAST(n_eligible AS DOUBLE)
                   END AS realized_rate,
                   CASE WHEN n_fim > 0 THEN
                     CAST(mid_q AS DOUBLE) / 1048576.0 / CAST(n_fim AS DOUBLE)
                   END AS mean_middle_share
            FROM agg ORDER BY source"""))

  val qs: Seq[Q] = Seq(x01, x02, x03, x04, x05, x06, x07, x08, x09, x10,
    x11, x12, x13, x14, x15, x16, x17, x18, x19, x20, x21, x22, x23, x24, x25,
    x26, x27, x28, x29, x30, x31, x32, x33, x34, x35, x36, x37, x38, x39,
    x40, x41, x42, x43, x44, x45, x46, x47, x48, x49, x50, x51, x52, x53,
    x54, x55, x56, x57, x58, x59, x60, x61, x62, x63, x64, x65, x66, x67,
    x68, x69, x70, x71, x72, x73, x74, x75, x76, x77, x78, x79, x80, x81,
    x82, x83, x84, x85, x86, x87, x88, x89, x90, x91, x92, x93, x94, x95,
    x96, x97, x98, x99, x100, x101, x102, x103, x104, x105, x106, x107,
    x108, x109, x110, x111, x112, x113, x114, x115, x116, x117, x118,
    x119, x120, x121, x122, x123, x124, x125, x126, x127, x128, x129,
    x130, x131, x132, x133, x134, x135, x136, x137)
}
