"""Training-data-pipeline query battery: text analysis, deduplication,
embedding similarity search, multimodal columns, AI functions.

These are the north-star extensions (BASELINE.json) layered on the
reference's text/AI surface (SURVEY.md §2.10). Every query has a DuckDB
oracle replicating the exact arithmetic — including the approximate
operators, whose hashing was made engine-portable for exactly this reason
(md5-derived simhash, integer-exact LSH hyperplane buckets, md5-ordered IVF
seeding, hex-string fake frame payloads).

Shared normalization contract (MUST stay in lockstep across
operators/textstats.py, functions/ai.py and every oracle below):
lower -> strip non [a-z ] -> collapse spaces -> trim -> split on ' '.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.ai import ai_classify, ai_complete, ai_generate
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import textstats as TS
from .queries_core import q
from .tables import load_table

# DuckDB macro-equivalent snippets reused across oracles
_TOKS = (
    "list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace("
    "lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' '), x -> x <> '')"
)


# =====================================================================
# Text analysis
# =====================================================================


@q(
    "t1_token_stats",
    f"""WITH tok AS (SELECT doc_id, text, {_TOKS} AS w FROM documents),
       norm AS (SELECT *, array_to_string(w, ' ') AS s,
                list_transform(string_split_regex(array_to_string(w, ' '), ''),
                               c -> CAST(unicode(c) AS BIGINT)) AS cp
                FROM tok)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(len(w) AS BIGINT) AS n_tokens,
              CAST(len(regexp_extract_all(text,
                   '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'))
                   AS BIGINT) AS n_bpe_tokens,
              CAST(length(text) AS BIGINT) AS n_chars_obs,
              md5(s) AS fingerprint,
              CASE WHEN length(s) = 0 THEN CAST(0 AS BIGINT) ELSE
                list_reduce(list_prepend(CAST(0 AS BIGINT), cp),
                            (acc, x) -> (acc * 257 + x) % 2147483647)
                  * 1073741824 +
                list_reduce(list_prepend(CAST(0 AS BIGINT), cp),
                            (acc, x) -> (acc * 131 + x) % 1000000007)
              END AS rolling_fp
       FROM norm""",
    "token counting (whitespace + GPT-2-style BPE pre-tokenizer regex) + "
    "exact-content fingerprints: md5 of normalized text AND a dual "
    "Rabin-Karp polynomial rolling hash (bit-identical int64 fold on both "
    "engines) — text-analysis ops over the documents table",
)
def t1_token_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.token_count(c).alias("n_tokens"),
        TS.bpe_token_count(c).alias("n_bpe_tokens"),
        TS.char_count(c).alias("n_chars_obs"),
        TS.fingerprint(c).alias("fingerprint"),
        TS.rolling_fingerprint(c).alias("rolling_fp"),
    )


def _duck_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_EN = f"len(list_filter(w, x -> list_contains({_duck_list(TS.LANG_STOPWORDS['en'])}, x)))"
_ES = f"len(list_filter(w, x -> list_contains({_duck_list(TS.LANG_STOPWORDS['es'])}, x)))"
_FR = f"len(list_filter(w, x -> list_contains({_duck_list(TS.LANG_STOPWORDS['fr'])}, x)))"
_DE = f"len(list_filter(w, x -> list_contains({_duck_list(TS.LANG_STOPWORDS['de'])}, x)))"


@q(
    "t2_lang_id",
    f"""WITH tok AS (SELECT doc_id, lang, {_TOKS} AS w FROM documents),
       hits AS (SELECT doc_id, lang,
                       {_EN} AS h_en, {_ES} AS h_es, {_FR} AS h_fr, {_DE} AS h_de
                FROM tok)
       SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
              CASE WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en > 0 THEN 'en'
                   WHEN h_es >= h_fr AND h_es >= h_de AND h_es > 0 THEN 'es'
                   WHEN h_fr >= h_de AND h_fr > 0 THEN 'fr'
                   WHEN h_de > 0 THEN 'de'
                   ELSE 'und' END AS lang_pred
       FROM hits""",
    "language-ID via stopword-hit argmax (n-gram heuristic family); ties "
    "resolved by fixed language priority",
)
def t2_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        TS.lang_id(F.col("text")).alias("lang_pred"),
    )


@q(
    "t3_quality_score",
    f"""WITH tok AS (SELECT doc_id, text, {_TOKS} AS w FROM documents),
       feat AS (SELECT doc_id,
                  CAST(length(text) AS DOUBLE) AS n_chars,
                  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                    / greatest(length(text), 1) AS punct,
                  CAST({_EN.replace("list_filter(w", "list_filter(w")} AS DOUBLE)
                    / greatest(len(w), 1) AS sw
                FROM tok)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              round(least(n_chars / 500.0, 1.0) * 0.5
                    + least(sw * 4.0, 1.0) * 0.3
                    + (1.0 - least(punct * 5.0, 1.0)) * 0.2, 6) AS quality_score
       FROM feat""",
    "heuristic quality scoring: length/punctuation/stopword features "
    "(C4/Gopher-style rules)",
)
def t3_quality_score(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.quality_score(F.col("text")).alias("quality_score"),
    )


@q(
    "t2_lang_quality",
    f"""WITH tok AS (SELECT doc_id, lang, text, {_TOKS} AS w FROM documents),
       hits AS (SELECT doc_id, lang, text, len(w) AS nw,
                       {_EN} AS h_en, {_ES} AS h_es, {_FR} AS h_fr, {_DE} AS h_de
                FROM tok),
       feat AS (SELECT doc_id, lang, h_en, h_es, h_fr, h_de,
                       CAST(length(text) AS DOUBLE) AS n_chars,
                       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1) AS punct,
                       CAST(h_en AS DOUBLE) / greatest(nw, 1) AS sw
                FROM hits)
       SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
              CASE WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en > 0 THEN 'en'
                   WHEN h_es >= h_fr AND h_es >= h_de AND h_es > 0 THEN 'es'
                   WHEN h_fr >= h_de AND h_fr > 0 THEN 'fr'
                   WHEN h_de > 0 THEN 'de'
                   ELSE 'und' END AS lang_pred,
              round(least(n_chars / 500.0, 1.0) * 0.5
                    + least(sw * 4.0, 1.0) * 0.3
                    + (1.0 - least(punct * 5.0, 1.0)) * 0.2, 6) AS quality_score
       FROM feat""",
    "T2+T3 merged: language-ID via stopword-hit argmax AND heuristic "
    "quality scoring (length/punct/stopword features, C4/Gopher-style) in "
    "one map-only pass over documents — same text normalization, one scan",
)
def t2_lang_quality(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        TS.lang_id(F.col("text")).alias("lang_pred"),
        TS.quality_score(F.col("text")).alias("quality_score"),
    )


# =====================================================================
# Deduplication
# =====================================================================

_CORPUS_50 = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50"
)


@q(
    "d1_exact_dup_groups",
    f"""WITH corpus AS ({_CORPUS_50}),
       tok AS (SELECT doc_id, {_TOKS} AS w FROM corpus),
       fp AS (SELECT doc_id, md5(array_to_string(w, ' ')) AS content_hash FROM tok)
       SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(MIN(doc_id) AS BIGINT) AS keep_id,
              CAST(MAX(doc_id) AS BIGINT) AS max_id
       FROM fp GROUP BY content_hash HAVING COUNT(*) > 1""",
    "exact dedup via content-hash groupBy (W1 dedup idiom generalized; "
    "semantics.sql:59-79 duplicate-rows spec). Corpus = documents + re-inserted "
    "copies of doc_id<50 so duplicate groups exist deterministically.",
)
def d1_exact_dup_groups(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return DD.exact_dup_groups(d.unionAll(dup))


_CORPUS_30 = (
    "SELECT doc_id AS id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text FROM documents WHERE doc_id < 30"
)

_SHINGLES = (
    "list_sort(list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))"
)


@q(
    "d2_minhash_lsh_pairs",
    f"""WITH corpus AS ({_CORPUS_30}),
       tok AS (SELECT id, {_TOKS} AS w FROM corpus),
       sh AS (SELECT id, {_SHINGLES} AS s FROM tok WHERE len(w) >= 3),
       ex AS (SELECT id, unnest(s) AS g FROM sh),
       mh AS (SELECT id, j,
                     min((CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) % 2147483647
                          + (j + 1) * (CAST(('0x' || substring(md5(g), 17, 15)) AS BIGINT)
                                       % 2147483647)) % 2147483647) AS h
              FROM ex CROSS JOIN range(0, 8) t(j) GROUP BY id, j),
       bands AS (SELECT id, CAST(j // 2 AS INT) AS band_id,
                        string_agg(CAST(h AS VARCHAR), '|' ORDER BY j) AS sig
                 FROM mh GROUP BY id, j // 2),
       cand AS (SELECT DISTINCT a.id AS ida, b.id AS idb
                FROM bands a JOIN bands b
                  ON a.band_id = b.band_id AND a.sig = b.sig AND a.id < b.id),
       jac AS (SELECT c.ida, c.idb,
                      round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                            / (CAST(len(sa.s) + len(sb.s) AS DOUBLE)
                               - CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)), 6) AS js
               FROM cand c JOIN sh sa ON sa.id = c.ida JOIN sh sb ON sb.id = c.idb)
       SELECT CAST(ida AS BIGINT) AS doc_a, CAST(idb AS BIGINT) AS doc_b,
              js AS jaccard_sim
       FROM jac WHERE js >= 0.5""",
    "MinHash+LSH near-dup pairs (shingle -> md5-minhash -> band -> bucket join "
    "-> Jaccard verify). The 8 minhash permutations derive from ONE md5 per "
    "gram (Kirsch-Mitzenmacher) — engine-portable and 8x less hash work in "
    "the map-side hot loop. "
    "Scale path: candidates from an equi-join on (band, sig), never all-pairs.",
)
def d2_minhash_lsh_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return DD.minhash_lsh_pairs(
        d.unionAll(dup), num_hashes=8, band_size=2, jaccard_threshold=0.5, shingle_n=3
    )


@q(
    "d3_ngram_jaccard_pairs",
    f"""WITH tok AS (SELECT doc_id AS id, {_TOKS} AS w FROM documents WHERE doc_id < 120),
       sh AS (SELECT id, {_SHINGLES} AS s FROM tok WHERE len(w) >= 3),
       pairs AS (SELECT a.id AS doc_a, b.id AS doc_b,
                        round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                              / (CAST(len(a.s) + len(b.s) AS DOUBLE)
                                 - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)), 6)
                          AS jaccard_sim
                 FROM sh a JOIN sh b ON a.id < b.id)
       SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b, jaccard_sim
       FROM pairs WHERE jaccard_sim >= 0.02""",
    "exact all-pairs n-gram Jaccard above threshold (verification-scope "
    "complement of MinHash-LSH)",
)
def d3_ngram_jaccard_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, shingle_n=3, threshold=0.02, max_id=120)


def _simhash_oracle() -> str:
    """DuckDB twin of the portable (md5-based) SimHash near-dup pipeline:
    per-token 64-bit hashes from md5('sh:'||token) hex halves, bit-majority
    votes (64 aggregates), signature as two 32-bit ints, 8x8-bit pigeonhole
    blocking, hamming verify — byte-for-byte the engine's arithmetic."""
    corpus = (
        "SELECT doc_id AS id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10"
    )
    votes = ",\n            ".join(
        [f"SUM(CASE WHEN (hi >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_hi_{j}"
         for j in range(32)]
        + [f"SUM(CASE WHEN (lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_lo_{j}"
           for j in range(32)]
    )
    sig_hi = " + ".join(f"(CASE WHEN v_hi_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    sig_lo = " + ".join(f"(CASE WHEN v_lo_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    return f"""WITH corpus AS ({corpus}),
       tok AS (SELECT id, {_TOKS} AS w FROM corpus),
       toks AS (SELECT id, unnest(w) AS t FROM tok),
       h AS (SELECT id,
                    ('0x' || substr(md5('sh:' || t), 1, 8))::BIGINT AS hi,
                    ('0x' || substr(md5('sh:' || t), 9, 8))::BIGINT AS lo
             FROM toks),
       votes AS (SELECT id,
            {votes}
         FROM h GROUP BY id),
       sig AS (SELECT id, {sig_hi} AS sig_hi, {sig_lo} AS sig_lo FROM votes),
       chunk AS (SELECT id, sig_hi, sig_lo, t.i AS chunk_id,
                        CASE WHEN t.i < 4 THEN (sig_lo >> (8 * t.i::INT)) & 255
                             ELSE (sig_hi >> (8 * (t.i::INT - 4))) & 255 END AS chunk_val
                 FROM sig CROSS JOIN range(0, 8) t(i)),
       cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
                       a.sig_hi AS ha, a.sig_lo AS la, b.sig_hi AS hb, b.sig_lo AS lb
                FROM chunk a JOIN chunk b
                  ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val AND a.id < b.id)
       SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
              CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT) AS hamming
       FROM cand
       WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 7"""


@q(
    "d4_simhash_neardup",
    _simhash_oracle(),
    "SimHash 64-bit near-dup with 8x8-bit-chunk pigeonhole blocking "
    "(pigeonhole-complete for hamming <= 7). Portable md5-derived "
    "signature, fully replicated by the DuckDB oracle.",
)
def d4_simhash_neardup(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return DD.simhash_neardup_pairs(
        d.unionAll(dup), max_hamming=7, n_chunks=8, portable=True
    )


# =====================================================================
# Embedding similarity search
# =====================================================================

_QVEC = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


@q(
    "s1_knn_bruteforce",
    f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       n AS (SELECT vec_id, qv,
                    (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, 65) t(i)) AS nrm
             FROM v),
       p AS (SELECT b.vec_id AS query_id, a.vec_id AS cand_id,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, 65) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM n a, n b WHERE b.vec_id < 10 AND a.vec_id <> b.vec_id),
       s AS (SELECT query_id, cand_id,
                    round(CASE WHEN na > 0 AND nb > 0
                               THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                               ELSE 0.0 END, 6) AS cosine_sim
             FROM p)
       SELECT CAST(query_id AS BIGINT) AS query_id, CAST(cand_id AS BIGINT) AS cand_id,
              cosine_sim, CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine_sim DESC, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= 5""",
    "brute-force cosine top-k ANN baseline: small query block rides into "
    "each task, map-side numpy C@Q.T scoring over Arrow batches with "
    "per-batch partial top-k, one narrow shuffle of ~batches*q*k rows for "
    "the final top-k. Quantized int64 dot products -> bit-identical across "
    "engines (knn_bruteforce is the pure-SQL twin with identical output).",
)
def s1_knn_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_bruteforce_arrow(emb, queries, k=5)


_ECORPUS = (
    "SELECT vec_id, embedding FROM embeddings UNION ALL "
    "SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 20"
)


@q(
    "s2_embedding_neardup",
    f"""WITH corpus AS ({_ECORPUS}),
       v AS (SELECT vec_id, {_QVEC} AS qv FROM corpus),
       n AS (SELECT vec_id, qv,
                    (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, 65) t(i)) AS nrm
             FROM v),
       p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, 65) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM n a, n b WHERE a.vec_id < b.vec_id)
       SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
              round(CASE WHEN na > 0 AND nb > 0
                         THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                         ELSE 0.0 END, 6) AS cosine_sim
       FROM p
       WHERE CASE WHEN na > 0 AND nb > 0
                  THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                  ELSE 0.0 END >= 0.99""",
    "embedding-cosine near-duplicate pairs above 0.99 (corpus + re-inserted "
    "copies so dup pairs exist deterministically)",
)
def s2_embedding_neardup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionAll(dup)
    return SIM.embedding_neardup_pairs(corpus, threshold=0.99)


def _plane_values(n_tables: int, n_planes: int, dim: int) -> str:
    rows = []
    for t in range(n_tables):
        planes = SIM._fixed_planes(dim, n_planes * (t + 1))[-n_planes:]
        for j, p in enumerate(planes):
            w = ", ".join(str(int(round(x * 1000))) for x in p)
            rows.append(f"({t}, {j}, [{w}]::BIGINT[])")
    return ",\n              ".join(rows)


def _neardup_lsh_oracle(
    threshold: float = 0.99, n_tables: int = 8, n_planes: int = 4, dim: int = 64
) -> str:
    """DuckDB twin of embedding_neardup_lsh over the seeded dup corpus:
    identical integer bucket assignment, (a<b) same-bucket candidate
    pairs, quantized-cosine verify at the threshold."""
    return f"""WITH pl(table_id, plane_id, w) AS (VALUES
              {_plane_values(n_tables, n_planes, dim)}),
       corpus AS ({_ECORPUS}),
       v AS (SELECT vec_id, {_QVEC} AS qv FROM corpus),
       dots AS (SELECT v.vec_id, pl.table_id, pl.plane_id,
                       list_dot_product(v.qv, pl.w) AS dot
                FROM v CROSS JOIN pl),
       buck AS (SELECT vec_id, table_id,
                       SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << plane_id::INT)
                                ELSE 0 END) AS bucket
                FROM dots GROUP BY vec_id, table_id),
       cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                FROM buck a JOIN buck b
                  ON a.table_id = b.table_id AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id),
       n AS (SELECT vec_id, qv,
                    (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {dim + 1}) t(i)) AS nrm
             FROM v),
       p AS (SELECT cand.vec_a, cand.vec_b,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, {dim + 1}) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM cand JOIN n a ON a.vec_id = cand.vec_a
                       JOIN n b ON b.vec_id = cand.vec_b)
       SELECT * FROM (
         SELECT CAST(vec_a AS BIGINT) AS vec_a, CAST(vec_b AS BIGINT) AS vec_b,
                round(CASE WHEN na > 0 AND nb > 0
                           THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                           ELSE 0.0 END, 6) AS cosine_sim
         FROM p) s
       WHERE cosine_sim >= {threshold}"""


@q(
    "s5_embedding_neardup_lsh",
    _neardup_lsh_oracle(threshold=0.99),
    "S5 embedding near-dup pairs via hyperplane-LSH blocking — the 100 TB "
    "scale path the all-pairs verifier (s2) documents: candidates only "
    "from shared (table, bucket) cells, exact quantized-cosine verify. "
    "Same seeded dup corpus as s2, so the driver pins that blocking loses "
    "none of the >=0.99 pairs on this data while never all-pairs joining.",
)
def s5_embedding_neardup_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionAll(dup)
    return SIM.embedding_neardup_lsh(corpus, threshold=0.99)


def _lsh_oracle(n_tables: int = 8, n_planes: int = 4, dim: int = 64) -> str:
    """DuckDB twin of knn_lsh: the hyperplane weights are deterministic
    (xorshift64 /1000 rationals), so they embed as integer literals and the
    bucket assignment is the same exact integer sign test the engine runs;
    candidate generation and quantized-cosine top-k mirror the plan."""
    rows = []
    for t in range(n_tables):
        planes = SIM._fixed_planes(dim, n_planes * (t + 1))[-n_planes:]
        for j, p in enumerate(planes):
            w = ", ".join(str(int(round(x * 1000))) for x in p)
            rows.append(f"({t}, {j}, [{w}]::BIGINT[])")
    values = ",\n              ".join(rows)
    return f"""WITH pl(table_id, plane_id, w) AS (VALUES
              {values}),
       v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       dots AS (SELECT v.vec_id, pl.table_id, pl.plane_id,
                       list_dot_product(v.qv, pl.w) AS dot
                FROM v CROSS JOIN pl),
       buck AS (SELECT vec_id, table_id,
                       SUM(CASE WHEN dot >= 0 THEN (1::BIGINT << plane_id::INT)
                                ELSE 0 END) AS bucket
                FROM dots GROUP BY vec_id, table_id),
       qb AS (SELECT * FROM buck WHERE vec_id < 10),
       cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS cand_id
                FROM buck c JOIN qb ON c.table_id = qb.table_id AND c.bucket = qb.bucket
                WHERE c.vec_id <> qb.vec_id),
       n AS (SELECT vec_id, qv,
                    (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {dim + 1}) t(i)) AS nrm
             FROM v),
       p AS (SELECT cand.query_id, cand.cand_id,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, {dim + 1}) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM cand JOIN n a ON a.vec_id = cand.cand_id
                       JOIN n b ON b.vec_id = cand.query_id),
       s AS (SELECT query_id, cand_id,
                    round(CASE WHEN na > 0 AND nb > 0
                               THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                               ELSE 0.0 END, 6) AS cosine_sim
             FROM p)
       SELECT CAST(query_id AS BIGINT) AS query_id, CAST(cand_id AS BIGINT) AS cand_id,
              cosine_sim, CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine_sim DESC, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= 5"""


@q(
    "s3_knn_lsh",
    _lsh_oracle(),
    "LSH-bucketed approximate top-k (random-hyperplane sign buckets; the "
    "100 TB scale path — candidates shrink 2^planes-fold). Integer-exact "
    "bucket assignment, fully replicated by the DuckDB oracle.",
)
def s3_knn_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_lsh(emb, queries, k=5, dim=64, n_planes=4)


def _ivf_oracle(n_cells: int = 16, nprobe: int = 4, dim: int = 64, k: int = 5) -> str:
    """DuckDB twin of knn_ivf: md5-ordered seed sampling, one Lloyd step
    (exact-int sums, one IEEE division, HALF_UP round), nprobe cell probing
    and quantized-cosine top-k — the same arithmetic the engine runs."""
    d1 = dim + 1
    cos = (
        "CASE WHEN {na} > 0 AND {nc} > 0 "
        "THEN CAST({dot} AS DOUBLE) / sqrt(CAST({na} AS DOUBLE) * CAST({nc} AS DOUBLE)) "
        "ELSE 0.0 END"
    )
    return f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       seed_ids AS (SELECT vec_id AS sid FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}),
       seeds AS (SELECT row_number() OVER (ORDER BY sid) AS cell_id, v.qv AS centroid
                 FROM seed_ids JOIN v ON v.vec_id = seed_ids.sid),
       vn AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM v),
       sn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM seeds),
       sa AS (SELECT vn.vec_id, sn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * sn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="sn.nrm")} AS sim
              FROM vn CROSS JOIN sn),
       a1 AS (SELECT vec_id, cell_id
              FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY sim DESC, cell_id) AS rn FROM sa)
              WHERE rn = 1),
       cmeans AS (SELECT a1.cell_id, t.i AS pos,
                         round(CAST(SUM(v.qv[t.i]) AS DOUBLE) / COUNT(*)) AS mval
                  FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, {d1}) t(i)
                  GROUP BY a1.cell_id, t.i),
       cents AS (SELECT cell_id, list(mval::BIGINT ORDER BY pos) AS centroid
                 FROM cmeans GROUP BY cell_id),
       cn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM cents),
       ca AS (SELECT vn.vec_id, cn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * cn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="cn.nrm")} AS sim
              FROM vn CROSS JOIN cn),
       corpus_cell AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn = 1),
       query_cells AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn <= {nprobe} AND vec_id < 10),
       cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                FROM corpus_cell c JOIN query_cells q USING (cell_id)
                WHERE c.vec_id <> q.vec_id),
       p AS (SELECT cand.query_id, cand.cand_id,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, {d1}) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM cand JOIN vn a ON a.vec_id = cand.cand_id
                       JOIN vn b ON b.vec_id = cand.query_id),
       s AS (SELECT query_id, cand_id,
                    round(CASE WHEN na > 0 AND nb > 0
                               THEN CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                               ELSE 0.0 END, 6) AS cosine_sim
             FROM p)
       SELECT CAST(query_id AS BIGINT) AS query_id, CAST(cand_id AS BIGINT) AS cand_id,
              cosine_sim, CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine_sim DESC, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= {k}"""


@q(
    "s4_knn_ivf",
    _ivf_oracle(),
    "IVF-flat approximate top-k (deterministic sampled+refined centroids, "
    "nprobe cell probing via equi-join — the inverted-file scale path "
    "beside LSH). Portable arithmetic, fully replicated by the DuckDB "
    "oracle.",
)
def s4_knn_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_ivf(emb, queries, k=5, n_cells=16, nprobe=4)


def _pq_oracle(
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 16,
    k: int = 5,
    train_frac: float | None = None,
) -> str:
    """DuckDB twin of knn_pq: md5-ordered seed sampling, one Lloyd step per
    SUBSPACE (exact-int squared-L2 assignment, per-position mean = one IEEE
    division + HALF_UP round), asymmetric distance scoring by summing the
    per-subspace code distances — pure int64 end to end, so the replay is
    bit-identical, not merely close.

    ``train_frac`` replays similarity._train_slice: the Lloyd step (seed
    pick unchanged — seeds are the smallest-md5 rows, which the slice
    keeps) trains on rows with md5(vec_id) below the 8-hex threshold;
    encoding and scoring still cover every vector."""
    sd = dim // m_sub
    l2 = (
        "(SELECT SUM(({a}[t.i] - {b}[t.i]) * ({a}[t.i] - {b}[t.i])) "
        f"FROM range(1, {sd + 1}) t(i))"
    )
    if train_frac is None:
        train_ctes, tv, tsub = "", "v", "sub"
    else:
        from .operators.sampling import _threshold_hex

        thr = _threshold_hex(train_frac)
        train_ctes = f"""vt AS (SELECT * FROM v
             WHERE md5(CAST(vec_id AS VARCHAR)) < '{thr}'),
       subt AS (SELECT vec_id, m.m AS m, qv[m.m*{sd}+1 : (m.m+1)*{sd}] AS sv
                FROM vt CROSS JOIN range(0, {m_sub}) m(m)),
       """
        tv, tsub = "vt", "subt"
    return f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       sub AS (SELECT vec_id, m.m AS m, qv[m.m*{sd}+1 : (m.m+1)*{sd}] AS sv
               FROM v CROSS JOIN range(0, {m_sub}) m(m)),
       {train_ctes}seed_ids AS (SELECT vec_id AS sid FROM {tv}
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_codes}),
       seeds AS (SELECT row_number() OVER (ORDER BY sid) AS code, v.qv
                 FROM seed_ids JOIN v ON v.vec_id = seed_ids.sid),
       sbook AS (SELECT code, m.m AS m, qv[m.m*{sd}+1 : (m.m+1)*{sd}] AS cv
                 FROM seeds CROSS JOIN range(0, {m_sub}) m(m)),
       a0 AS (SELECT {tsub}.vec_id, {tsub}.m, sbook.code,
                     {l2.format(a=f"{tsub}.sv", b="sbook.cv")} AS d
              FROM {tsub} JOIN sbook ON sbook.m = {tsub}.m),
       a1 AS (SELECT vec_id, m, code FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                              ORDER BY d, code) AS rn FROM a0)
              WHERE rn = 1),
       cmeans AS (SELECT a1.m, a1.code, t.i AS pos,
                         round(CAST(SUM({tsub}.sv[t.i]) AS DOUBLE) / COUNT(*)) AS mv
                  FROM a1 JOIN {tsub} USING (vec_id, m)
                  CROSS JOIN range(1, {sd + 1}) t(i)
                  GROUP BY a1.m, a1.code, t.i),
       book AS (SELECT m, code, list(mv::BIGINT ORDER BY pos) AS cv
                FROM cmeans GROUP BY m, code),
       enc AS (SELECT sub.vec_id, sub.m, book.code,
                      {l2.format(a="sub.sv", b="book.cv")} AS d
               FROM sub JOIN book ON book.m = sub.m),
       codes AS (SELECT vec_id, m, code FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                                 ORDER BY d, code) AS rn FROM enc)
                 WHERE rn = 1),
       dtab AS (SELECT vec_id AS query_id, m, code, d FROM enc WHERE vec_id < 10),
       s AS (SELECT dt.query_id, c.vec_id AS cand_id, SUM(dt.d) AS approx_dist
             FROM codes c JOIN dtab dt ON dt.m = c.m AND dt.code = c.code
             WHERE c.vec_id <> dt.query_id
             GROUP BY dt.query_id, c.vec_id)
       SELECT CAST(query_id AS BIGINT) AS query_id,
              CAST(cand_id AS BIGINT) AS cand_id,
              CAST(approx_dist AS BIGINT) AS approx_dist,
              CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY approx_dist, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= {k}"""


@q(
    "s6_knn_pq",
    _pq_oracle(),
    "Product-quantization approximate top-k with asymmetric distance "
    "computation: corpus vectors stored as m_sub codebook codes (16x "
    "memory compression), queries score candidates by summing broadcast "
    "per-subspace distance-table lookups — the IVF-PQ serving shape. Pure "
    "int64 squared-L2 throughout; the DuckDB oracle replays the identical "
    "training + encoding + ADC arithmetic.",
)
def s6_knn_pq(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_pq(emb, queries, k=5, dim=64, m_sub=4, k_codes=16)


@q(
    "s9_knn_pq_strain",
    _pq_oracle(train_frac=0.5),
    "PQ top-k with SAMPLED quantizer training (train_frac=0.5): the Lloyd "
    "codebook step trains on a deterministic md5-threshold slice of the "
    "corpus — FAISS's train-on-a-sample practice, the shape that makes "
    "index builds O(sample) instead of O(corpus) at 100 TB — while "
    "encoding and ADC scoring still cover every vector. The DuckDB oracle "
    "replays the slice (md5 < '80000000'), training, encoding, and scoring "
    "bit-identically, pinning that sampling changes ONLY the trained "
    "codebook, never the serving algebra.",
)
def s9_knn_pq_strain(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_pq(emb, queries, k=5, dim=64, m_sub=4, k_codes=16, train_frac=0.5)


def _semdedup_oracle(n_cells: int = 16, thr: float = 0.95, dim: int = 64) -> str:
    """DuckDB twin of similarity.semdedup over the seeded dup corpus: the
    _ivf_oracle centroid training + nprobe=1 cell assignment, per-cell
    pairwise quantized cosine (HALF_UP-rounded threshold test — identical
    to the Spark-side inclusion decision), recursive-CTE transitive
    closure over the pair set (an independent algorithm vs the engine's
    min-label propagation), and a left join so singletons keep
    themselves."""
    d1 = dim + 1
    cos = (
        "CASE WHEN {na} > 0 AND {nc} > 0 "
        "THEN CAST({dot} AS DOUBLE) / sqrt(CAST({na} AS DOUBLE) * CAST({nc} AS DOUBLE)) "
        "ELSE 0.0 END"
    )
    return f"""WITH RECURSIVE corpus AS ({_ECORPUS}),
       v AS (SELECT vec_id, {_QVEC} AS qv FROM corpus),
       seed_ids AS (SELECT vec_id AS sid FROM v
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}),
       seeds AS (SELECT row_number() OVER (ORDER BY sid) AS cell_id, v.qv AS centroid
                 FROM seed_ids JOIN v ON v.vec_id = seed_ids.sid),
       vn AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM v),
       sn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM seeds),
       sa AS (SELECT vn.vec_id, sn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * sn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="sn.nrm")} AS sim
              FROM vn CROSS JOIN sn),
       a1 AS (SELECT vec_id, cell_id
              FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY sim DESC, cell_id) AS rn FROM sa)
              WHERE rn = 1),
       cmeans AS (SELECT a1.cell_id, t.i AS pos,
                         round(CAST(SUM(v.qv[t.i]) AS DOUBLE) / COUNT(*)) AS mval
                  FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, {d1}) t(i)
                  GROUP BY a1.cell_id, t.i),
       cents AS (SELECT cell_id, list(mval::BIGINT ORDER BY pos) AS centroid
                 FROM cmeans GROUP BY cell_id),
       cn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM cents),
       ca AS (SELECT vn.vec_id, cn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * cn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="cn.nrm")} AS sim
              FROM vn CROSS JOIN cn),
       corpus_cell AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn = 1),
       pv AS (SELECT cc.vec_id, cc.cell_id, vn.qv, vn.nrm
              FROM corpus_cell cc JOIN vn USING (vec_id)),
       pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
                 FROM pv a JOIN pv b
                   ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
                 WHERE round({cos.format(dot=f"(SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, {d1}) t(i))", na="a.nrm", nc="b.nrm")}, 6) >= {thr}),
       edges AS (SELECT va AS a, vb AS b FROM pairs
                 UNION ALL
                 SELECT vb AS a, va AS b FROM pairs),
       verts AS (SELECT DISTINCT a AS vx FROM edges),
       reach(src, node) AS (
           SELECT vx, vx FROM verts
           UNION
           SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
       ),
       comp AS (SELECT src AS vec_id, MIN(node) AS cluster_rep
                FROM reach GROUP BY src),
       res AS (SELECT v.vec_id, COALESCE(comp.cluster_rep, v.vec_id) AS cluster_rep
               FROM v LEFT JOIN comp USING (vec_id))
       SELECT CAST(vec_id AS BIGINT) AS vec_id,
              CAST(cluster_rep AS BIGINT) AS cluster_rep,
              CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
                  AS cluster_size,
              CAST(CASE WHEN vec_id = cluster_rep THEN 1 ELSE 0 END AS BIGINT)
                  AS is_kept
       FROM res"""


@q(
    "d6_semdedup",
    _semdedup_oracle(),
    "SemDeDup (Abbas et al. 2023): SEMANTIC deduplication — k-means-cluster "
    "the embedding column (deterministic sampled+refined centroids), "
    "pairwise cosine ONLY within each cluster (>= 0.95, HALF_UP-rounded "
    "boundary), connected components over the pair set, keep the min-id "
    "document per component. Catches paraphrase-level duplicates that "
    "share no n-grams with MinHash/SimHash. Corpus re-seeds vec_id < 20 as "
    "exact copies so dup groups exist deterministically; the DuckDB oracle "
    "replays training + assignment + pair test and closes components with "
    "a recursive CTE — an independent algorithm for the same clusters.",
)
def d6_semdedup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionAll(dup)
    return SIM.semdedup(corpus, n_cells=16, sim_threshold=0.95)


def _ivfpq_oracle(
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 16,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
) -> str:
    """DuckDB twin of knn_ivfpq: the _ivf_oracle coarse-quantizer CTEs
    (centroid training + cell assignment) composed with the _pq_oracle
    fine-quantizer CTEs (codebook training + encoding + per-query distance
    tables); ADC scoring restricted to candidates in the query's nprobe
    cells. Same exact-int arithmetic end to end — bit-identical replay."""
    d1 = dim + 1
    sd = dim // m_sub
    cos = (
        "CASE WHEN {na} > 0 AND {nc} > 0 "
        "THEN CAST({dot} AS DOUBLE) / sqrt(CAST({na} AS DOUBLE) * CAST({nc} AS DOUBLE)) "
        "ELSE 0.0 END"
    )
    l2 = (
        "(SELECT SUM(({a}[t.i] - {b}[t.i]) * ({a}[t.i] - {b}[t.i])) "
        f"FROM range(1, {sd + 1}) t(i))"
    )
    return f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       seed_ids AS (SELECT vec_id AS sid FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}),
       seeds AS (SELECT row_number() OVER (ORDER BY sid) AS cell_id, v.qv AS centroid
                 FROM seed_ids JOIN v ON v.vec_id = seed_ids.sid),
       vn AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM v),
       sn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM seeds),
       sa AS (SELECT vn.vec_id, sn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * sn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="sn.nrm")} AS sim
              FROM vn CROSS JOIN sn),
       a1c AS (SELECT vec_id, cell_id
               FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                  ORDER BY sim DESC, cell_id) AS rn FROM sa)
               WHERE rn = 1),
       cmeans AS (SELECT a1c.cell_id, t.i AS pos,
                         round(CAST(SUM(v.qv[t.i]) AS DOUBLE) / COUNT(*)) AS mval
                  FROM a1c JOIN v USING (vec_id) CROSS JOIN range(1, {d1}) t(i)
                  GROUP BY a1c.cell_id, t.i),
       cents AS (SELECT cell_id, list(mval::BIGINT ORDER BY pos) AS centroid
                 FROM cmeans GROUP BY cell_id),
       cn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM cents),
       ca AS (SELECT vn.vec_id, cn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * cn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="cn.nrm")} AS sim
              FROM vn CROSS JOIN cn),
       corpus_cell AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn = 1),
       query_cells AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn <= {nprobe} AND vec_id < 10),
       sub AS (SELECT vec_id, m.m AS m, qv[m.m*{sd}+1 : (m.m+1)*{sd}] AS sv
               FROM v CROSS JOIN range(0, {m_sub}) m(m)),
       pseed_ids AS (SELECT vec_id AS sid FROM embeddings
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_codes}),
       pseeds AS (SELECT row_number() OVER (ORDER BY sid) AS code, v.qv
                  FROM pseed_ids JOIN v ON v.vec_id = pseed_ids.sid),
       sbook AS (SELECT code, m.m AS m, qv[m.m*{sd}+1 : (m.m+1)*{sd}] AS cv
                 FROM pseeds CROSS JOIN range(0, {m_sub}) m(m)),
       a0 AS (SELECT sub.vec_id, sub.m, sbook.code,
                     {l2.format(a="sub.sv", b="sbook.cv")} AS d
              FROM sub JOIN sbook ON sbook.m = sub.m),
       a1 AS (SELECT vec_id, m, code FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                              ORDER BY d, code) AS rn FROM a0)
              WHERE rn = 1),
       pmeans AS (SELECT a1.m, a1.code, t.i AS pos,
                         round(CAST(SUM(sub.sv[t.i]) AS DOUBLE) / COUNT(*)) AS mv
                  FROM a1 JOIN sub USING (vec_id, m)
                  CROSS JOIN range(1, {sd + 1}) t(i)
                  GROUP BY a1.m, a1.code, t.i),
       book AS (SELECT m, code, list(mv::BIGINT ORDER BY pos) AS cv
                FROM pmeans GROUP BY m, code),
       enc AS (SELECT sub.vec_id, sub.m, book.code,
                      {l2.format(a="sub.sv", b="book.cv")} AS d
               FROM sub JOIN book ON book.m = sub.m),
       codes AS (SELECT vec_id, m, code FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                                 ORDER BY d, code) AS rn FROM enc)
                 WHERE rn = 1),
       dtab AS (SELECT vec_id AS query_id, m, code, d FROM enc WHERE vec_id < 10),
       cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
                FROM corpus_cell c JOIN query_cells q USING (cell_id)
                WHERE c.vec_id <> q.vec_id),
       s AS (SELECT cand.query_id, cand.cand_id, SUM(dt.d) AS approx_dist
             FROM cand
             JOIN codes c ON c.vec_id = cand.cand_id
             JOIN dtab dt ON dt.query_id = cand.query_id
                         AND dt.m = c.m AND dt.code = c.code
             GROUP BY cand.query_id, cand.cand_id)
       SELECT CAST(query_id AS BIGINT) AS query_id,
              CAST(cand_id AS BIGINT) AS cand_id,
              CAST(approx_dist AS BIGINT) AS approx_dist,
              CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY approx_dist, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= {k}"""


def _gap_cut(probe_sim_gap: float | None) -> str:
    """SQL fragment for the adaptive-nprobe cut; empty when disabled.
    repr() of the float keeps the full precision the engine compares at."""
    if probe_sim_gap is None:
        return ""
    return f" AND sim >= best - {probe_sim_gap!r}"


def _ivfpq_res_oracle(
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 16,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    probe_sim_gap: float | None = None,
) -> str:
    """DuckDB twin of knn_ivfpq(residual=True) — FAISS IndexIVFPQ: the
    coarse-quantizer CTEs, then RESIDUAL vectors (qv − cell centroid,
    exact int64), codebook trained on residuals, per-(query, probed-cell)
    residual distance tables, cell-restricted ADC. ``probe_sim_gap``
    replays the engine's adaptive-nprobe cut (drop probed cells trailing
    the best cell's cosine by more than the gap) on the same IEEE doubles.
    Bit-identical replay."""
    d1 = dim + 1
    sd = dim // m_sub
    cos = (
        "CASE WHEN {na} > 0 AND {nc} > 0 "
        "THEN CAST({dot} AS DOUBLE) / sqrt(CAST({na} AS DOUBLE) * CAST({nc} AS DOUBLE)) "
        "ELSE 0.0 END"
    )
    l2 = (
        "(SELECT SUM(({a}[t.i] - {b}[t.i]) * ({a}[t.i] - {b}[t.i])) "
        f"FROM range(1, {sd + 1}) t(i))"
    )
    return f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       seed_ids AS (SELECT vec_id AS sid FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cells}),
       seeds AS (SELECT row_number() OVER (ORDER BY sid) AS cell_id, v.qv AS centroid
                 FROM seed_ids JOIN v ON v.vec_id = seed_ids.sid),
       vn AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM v),
       sn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM seeds),
       sa AS (SELECT vn.vec_id, sn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * sn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="sn.nrm")} AS sim
              FROM vn CROSS JOIN sn),
       a1c AS (SELECT vec_id, cell_id
               FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                  ORDER BY sim DESC, cell_id) AS rn FROM sa)
               WHERE rn = 1),
       cmeans AS (SELECT a1c.cell_id, t.i AS pos,
                         round(CAST(SUM(v.qv[t.i]) AS DOUBLE) / COUNT(*)) AS mval
                  FROM a1c JOIN v USING (vec_id) CROSS JOIN range(1, {d1}) t(i)
                  GROUP BY a1c.cell_id, t.i),
       cents AS (SELECT cell_id, list(mval::BIGINT ORDER BY pos) AS centroid
                 FROM cmeans GROUP BY cell_id),
       cn AS (SELECT cell_id, centroid,
                     (SELECT SUM(centroid[t.i] * centroid[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM cents),
       ca AS (SELECT vn.vec_id, cn.cell_id,
                     {cos.format(dot=f"(SELECT SUM(vn.qv[t.i] * cn.centroid[t.i]) FROM range(1, {d1}) t(i))", na="vn.nrm", nc="cn.nrm")} AS sim
              FROM vn CROSS JOIN cn),
       corpus_cell AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn FROM ca)
                       WHERE rn = 1),
       query_cells AS (SELECT vec_id, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                          ORDER BY sim DESC, cell_id) AS rn,
                                    max(sim) OVER (PARTITION BY vec_id) AS best
                             FROM ca)
                       WHERE rn <= {nprobe} AND vec_id < 10{_gap_cut(probe_sim_gap)}),
       rv AS (SELECT cc.vec_id, cc.cell_id,
                     list_transform(generate_series(1, {dim}),
                                    x -> v.qv[x] - cn.centroid[x]) AS rqv
              FROM corpus_cell cc JOIN v USING (vec_id)
              JOIN cents cn USING (cell_id)),
       rsub AS (SELECT vec_id, m.m AS m, rqv[m.m*{sd}+1 : (m.m+1)*{sd}] AS sv
                FROM rv CROSS JOIN range(0, {m_sub}) m(m)),
       pseed_ids AS (SELECT vec_id AS sid FROM embeddings
                     ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k_codes}),
       pseeds AS (SELECT row_number() OVER (ORDER BY sid) AS code, rv.rqv
                  FROM pseed_ids JOIN rv ON rv.vec_id = pseed_ids.sid),
       sbook AS (SELECT code, m.m AS m, rqv[m.m*{sd}+1 : (m.m+1)*{sd}] AS cv
                 FROM pseeds CROSS JOIN range(0, {m_sub}) m(m)),
       a0 AS (SELECT rsub.vec_id, rsub.m, sbook.code,
                     {l2.format(a="rsub.sv", b="sbook.cv")} AS d
              FROM rsub JOIN sbook ON sbook.m = rsub.m),
       a1 AS (SELECT vec_id, m, code FROM
                (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                              ORDER BY d, code) AS rn FROM a0)
              WHERE rn = 1),
       pmeans AS (SELECT a1.m, a1.code, t.i AS pos,
                         round(CAST(SUM(rsub.sv[t.i]) AS DOUBLE) / COUNT(*)) AS mv
                  FROM a1 JOIN rsub USING (vec_id, m)
                  CROSS JOIN range(1, {sd + 1}) t(i)
                  GROUP BY a1.m, a1.code, t.i),
       book AS (SELECT m, code, list(mv::BIGINT ORDER BY pos) AS cv
                FROM pmeans GROUP BY m, code),
       enc AS (SELECT rsub.vec_id, rsub.m, book.code,
                      {l2.format(a="rsub.sv", b="book.cv")} AS d
               FROM rsub JOIN book ON book.m = rsub.m),
       codes AS (SELECT vec_id, m, code FROM
                   (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                                 ORDER BY d, code) AS rn FROM enc)
                 WHERE rn = 1),
       qrv AS (SELECT q.vec_id AS query_id, q.cell_id,
                      list_transform(generate_series(1, {dim}),
                                     x -> v.qv[x] - cn.centroid[x]) AS rqv
               FROM query_cells q JOIN v ON v.vec_id = q.vec_id
               JOIN cents cn USING (cell_id)),
       qrsub AS (SELECT query_id, cell_id, m.m AS m,
                        rqv[m.m*{sd}+1 : (m.m+1)*{sd}] AS sv
                 FROM qrv CROSS JOIN range(0, {m_sub}) m(m)),
       dtab AS (SELECT qrsub.query_id, qrsub.cell_id, qrsub.m, book.code,
                       {l2.format(a="qrsub.sv", b="book.cv")} AS d
                FROM qrsub JOIN book ON book.m = qrsub.m),
       s AS (SELECT dt.query_id, c.vec_id AS cand_id, SUM(dt.d) AS approx_dist
             FROM codes c
             JOIN corpus_cell cc ON cc.vec_id = c.vec_id
             JOIN dtab dt ON dt.cell_id = cc.cell_id
                         AND dt.m = c.m AND dt.code = c.code
             WHERE c.vec_id <> dt.query_id
             GROUP BY dt.query_id, c.vec_id)
       SELECT CAST(query_id AS BIGINT) AS query_id,
              CAST(cand_id AS BIGINT) AS cand_id,
              CAST(approx_dist AS BIGINT) AS approx_dist,
              CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY approx_dist, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= {k}"""


@q(
    "s8_knn_ivfpq_res",
    _ivfpq_res_oracle(probe_sim_gap=0.15),
    "FAISS IndexIVFPQ exactly: IVF coarse quantizer + PQ over RESIDUALS "
    "(vector minus cell centroid, exact int64) with per-(query, probed "
    "cell) residual distance tables — residuals are smaller in norm, so "
    "the codebook's resolution lands where the vectors are (lower "
    "quantization error than raw-vector PQ at equal budget). Adaptive "
    "nprobe (probe_sim_gap) drops probed cells trailing the query's best "
    "cell, cutting the per-(query, cell) table build the round-6 verdict "
    "flagged as s8's cost driver. The DuckDB oracle replays coarse "
    "training, residual computation, codebook training, encoding, the "
    "adaptive probe cut, and ADC bit-identically.",
)
def s8_knn_ivfpq_res(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_ivfpq(
        emb, queries, k=5, dim=64, m_sub=4, k_codes=16, n_cells=16,
        nprobe=4, residual=True, probe_sim_gap=0.15,
    )


def _two_stage_oracle(
    recall_m: int = 20, k: int = 5, dim: int = 64, **ivfpq_kw
) -> str:
    """DuckDB twin of knn_two_stage: the full _ivfpq_oracle (k=recall_m)
    as the candidate CTE, then exact-cosine re-rank of only those
    candidates — the same int64 dots / IEEE sqrt+divide / round6 the
    brute-force oracle uses."""
    inner = _ivfpq_oracle(k=recall_m, dim=dim, **ivfpq_kw)
    d1 = dim + 1
    return f"""WITH cand AS ({inner}),
       v2 AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       n2 AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, {d1}) t(i)) AS nrm
              FROM v2),
       rs AS (SELECT cand.query_id, cand.cand_id,
                     round(CASE WHEN a.nrm > 0 AND b.nrm > 0
                           THEN CAST((SELECT SUM(a.qv[t.i] * b.qv[t.i])
                                      FROM range(1, {d1}) t(i)) AS DOUBLE)
                                / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE))
                           ELSE 0.0 END, 6) AS cosine_sim
              FROM cand
              JOIN n2 a ON a.vec_id = cand.cand_id
              JOIN n2 b ON b.vec_id = cand.query_id)
       SELECT CAST(query_id AS BIGINT) AS query_id,
              CAST(cand_id AS BIGINT) AS cand_id,
              cosine_sim, CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine_sim DESC, cand_id) AS rnk
             FROM rs) t
       WHERE rnk <= {k}"""


@q(
    "s11_two_stage_rerank",
    _two_stage_oracle(),
    "Two-stage retrieval — the FAISS IndexRefineFlat production serving "
    "shape: IVFxPQ recalls top-m candidates per query in the compressed "
    "domain (codes + broadcast distance tables, O(nprobe*cell)/query), "
    "then ONLY those m candidates are re-ranked by exact cosine on the "
    "raw vectors (|Q|*m id-keyed hash-join probes, never a corpus scan) "
    "— brute-force-quality final ordering at ANN cost. The DuckDB oracle "
    "replays stage-1 training/encoding/probing/ADC and the stage-2 exact "
    "re-rank bit-identically.",
)
def s11_two_stage_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_two_stage(emb, queries, k=5, recall_m=20)


@q(
    "s7_knn_ivfpq",
    _ivfpq_oracle(),
    "IVF x PQ composed — the real large-scale ANN serving shape: the "
    "coarse quantizer restricts asymmetric-distance scoring to each "
    "query's nprobe cells (per-query work O(nprobe*cell), not O(corpus)) "
    "while the corpus lives only as m_sub PQ codes (16x compression). "
    "Exact int64 throughout; the DuckDB oracle replays centroid + codebook "
    "training, encoding, probing, and ADC bit-identically.",
)
def s7_knn_ivfpq(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.knn_ivfpq(
        emb, queries, k=5, dim=64, m_sub=4, k_codes=16, n_cells=16, nprobe=4
    )


@q(
    "s12_knn_persisted",
    _ivfpq_oracle(),
    "Persisted ANN index (operators/ann_index.py): the IVF x PQ quantizers "
    "and codes are BUILT ONCE into snapshot-versioned lakehouse tables "
    "(centroids / codebook / codes — the reflections idiom applied to ANN "
    "serving), then ann_query answers from the persisted tables with no "
    "training and no corpus pass; refresh_ann_index applies the source's "
    "change feed against frozen quantizers (O(delta): it encodes only "
    "inserted rows and position-deletes deleted ones). Everything is "
    "exact int64, so the parquet round-trip is bit-exact and this row "
    "hash-equals the one-shot s7_knn_ivfpq oracle verbatim.",
)
def s12_knn_persisted(spark, sf_dir):
    import tempfile

    from .operators import ann_index as AX
    from .plans import Lakehouse

    emb = load_table(spark, sf_dir, "embeddings")
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="sg-annidx-"))
    lake.create_table_as("ann.embeddings", emb.select("vec_id", "embedding"))
    AX.build_ann_index(
        lake, "ann.embeddings", "ann.idx",
        dim=64, m_sub=4, k_codes=16, n_cells=16,
    )
    # up to date -> refresh is a metadata-only no-op (the O(delta) path
    # itself is pinned by tests/test_ann_index.py)
    assert AX.refresh_ann_index(lake, "ann.idx")["mode"] == "noop"
    queries = emb.filter(F.col("vec_id") < 10)
    return AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=4)


# =====================================================================
# Multimodal columns
# =====================================================================


@q(
    "mm1_binary_metadata",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS content_md5,
              CAST(floor(length(text) / 100) + 1 AS BIGINT) AS n_chunks
       FROM documents""",
    "multimodal binary column + typed metadata (binary payload, byte length, "
    "content digest, chunk count) — JVM-side ops over opaque blobs; the "
    "decode path is the mapInPandas stage in mm2 (stubbed codec)",
)
def mm1_binary_metadata(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.md5(F.encode("text", "UTF-8")).alias("content_md5"),
        (F.floor(F.length("text") / F.lit(100)) + 1).cast("long").alias("n_chunks"),
    )


@q(
    "mm2_media_features",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS content_md5,
              CAST(64 + ('0x' || substr(md5(text), 1, 2))::INT % 192 AS BIGINT) AS width,
              CAST(64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS BIGINT) AS height,
              CASE ('0x' || substr(md5(text), 5, 2))::INT % 3
                   WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
       FROM documents""",
    "mapInPandas feature extraction over binary media payloads (Arrow "
    "batches; decode stubbed behind a deterministic md5-derived fake — see "
    "operators/multimodal.py). The fake's byte rules are replicated in SQL "
    "from the payload digest's hex pairs, so the oracle pins every value.",
)
def mm2_media_features(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return MM.extract_features(MM.media_from_documents(d))


@q(
    "mm3_frame_sample",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
              CAST(t.i AS BIGINT) AS frame_no,
              CAST(t.i * (1000 + ('0x' || substr(md5(text), 1, 4))::INT) // 3 AS BIGINT)
                AS frame_ms,
              md5(md5(text || chr(t.i::INT))) AS frame_md5
       FROM documents CROSS JOIN range(0, 3) t(i)""",
    "video frame-sampling plumbing: 1 media row -> N frame rows inside "
    "mapInPandas (no pre-built array explode), uniform fake timestamps, "
    "content-derived hex frame payloads — fully replicated by the SQL "
    "oracle (duration and per-frame digests from the payload md5)",
)
def mm3_frame_sample(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    frames = MM.sample_frames(MM.media_from_documents(d), n_frames=3)
    return frames.select(
        "media_id", "frame_no", "frame_ms", F.md5("frame").alias("frame_md5")
    )


@q(
    "mm4_audio_features",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
              CAST(8000 AS BIGINT) AS sample_rate,
              CAST(1 AS BIGINT) AS n_channels,
              CAST(octet_length(encode(text)) * 1000 // 8000 AS BIGINT)
                AS duration_ms
       FROM documents""",
    "REAL audio container roundtrip (round 7; no media libs needed): each "
    "document's UTF-8 bytes are wrapped in a genuine 8-bit-PCM WAV via the "
    "stdlib writer (operators/multimodal.wav_from_documents), then the "
    "stdlib wave parser decodes the container back and emits sample "
    "count / rate / channels / duration (extract_audio_features — the "
    "silence/clipping/duration stats an audio curation pipeline filters "
    "on; RMS rides the Spark output for pipelines, pinned by pytest on "
    "crafted PCM). The oracle recomputes every stat from octet_length: a "
    "value mismatch means the encode->parse roundtrip corrupted the "
    "sample plane. mapInPandas Arrow batches, map-only, no shuffle.",
)
def mm4_audio_features(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    wavs = MM.wav_from_documents(d, sample_rate=8000)
    return MM.extract_audio_features(wavs).select(
        "media_id", "n_samples", "sample_rate", "n_channels", "duration_ms"
    )


# =====================================================================
# AI functions (mock backend — deterministic, SQL-replicable)
# =====================================================================

_AI_LABELS = ["table", "stream", "vector", "window"]


@q(
    "ai1_classify",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents),
       hits AS (SELECT doc_id,
                       len(list_filter(w, x -> x = 'table')) AS h1,
                       len(list_filter(w, x -> x = 'stream')) AS h2,
                       len(list_filter(w, x -> x = 'vector')) AS h3,
                       len(list_filter(w, x -> x = 'window')) AS h4
                FROM tok)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CASE WHEN h1 >= h2 AND h1 >= h3 AND h1 >= h4 AND h1 > 0 THEN 'table'
                   WHEN h2 >= h3 AND h2 >= h4 AND h2 > 0 THEN 'stream'
                   WHEN h3 >= h4 AND h3 > 0 THEN 'vector'
                   WHEN h4 > 0 THEN 'window'
                   ELSE 'Unknown' END AS label
       FROM hits""",
    "AI_CLASSIFY(text, ARRAY[...]) with closed label set "
    "(recipes.sql:18; ai_classify_examples.sql:31-35) — mock backend counts "
    "label-token hits, first label wins ties, no hit -> 'Unknown'",
)
def ai1_classify(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ai_classify(F.col("text"), _AI_LABELS).alias("label"),
    )


@q(
    "ai2_complete",
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
              'echo[' || CAST(length('Summarize: ' || text) AS VARCHAR) || ']:'
                || upper(substr(trim('Summarize: ' || text), 1, 16)) AS reply
       FROM documents WHERE doc_id < 200""",
    "AI_COMPLETE(prompt) free-text completion (logistics_AI.sql:220-240) — "
    "mock backend echoes deterministically",
)
def ai2_complete(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    prompt = F.concat(F.lit("Summarize: "), F.col("text"))
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ai_complete(prompt).alias("reply"),
    )


@q(
    "ai3_generate_struct",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 200)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              array_to_string(w[1:5], ' ') AS summary,
              CAST(len(w) AS BIGINT) AS n_words,
              CASE WHEN len(list_filter(w, x -> x = 'fast')) > len(list_filter(w, x -> x = 'slow'))
                        THEN 'positive'
                   WHEN len(list_filter(w, x -> x = 'slow')) > len(list_filter(w, x -> x = 'fast'))
                        THEN 'negative'
                   ELSE 'neutral' END AS sentiment
       FROM tok""",
    "AI_GENERATE(prompt WITH SCHEMA ROW(summary, n_words, sentiment)) typed-"
    "struct extraction + flatten (logistics_AI.sql:126-161; ai_generate.sql:5-23)",
)
def ai3_generate_struct(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    g = ai_generate(
        F.col("text"), [("summary", "string"), ("n_words", "int"), ("sentiment", "string")]
    )
    return d.select(F.col("doc_id").cast("long").alias("doc_id"), g.alias("g")).select(
        "doc_id",
        F.col("g.summary").alias("summary"),
        F.col("g.n_words").cast("long").alias("n_words"),
        F.col("g.sentiment").alias("sentiment"),
    )


@q(
    "ai23_complete_generate",
    f"""WITH tok AS (SELECT doc_id, text, {_TOKS} AS w FROM documents WHERE doc_id < 200)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              'echo[' || CAST(length('Summarize: ' || text) AS VARCHAR) || ']:'
                || upper(substr(trim('Summarize: ' || text), 1, 16)) AS reply,
              array_to_string(w[1:5], ' ') AS summary,
              CAST(len(w) AS BIGINT) AS n_words,
              CASE WHEN len(list_filter(w, x -> x = 'fast')) > len(list_filter(w, x -> x = 'slow'))
                        THEN 'positive'
                   WHEN len(list_filter(w, x -> x = 'slow')) > len(list_filter(w, x -> x = 'fast'))
                        THEN 'negative'
                   ELSE 'neutral' END AS sentiment
       FROM tok""",
    "AI2+AI3 merged: AI_COMPLETE free-text reply and AI_GENERATE WITH "
    "SCHEMA ROW(...) typed-struct extraction + flatten over the same 200-doc "
    "scope, one scan (logistics_AI.sql:126-161,220-240; ai_generate.sql:5-23)",
)
def ai23_complete_generate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    prompt = F.concat(F.lit("Summarize: "), F.col("text"))
    g = ai_generate(
        F.col("text"), [("summary", "string"), ("n_words", "int"), ("sentiment", "string")]
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ai_complete(prompt).alias("reply"),
        g.alias("g"),
    ).select(
        "doc_id",
        "reply",
        F.col("g.summary").alias("summary"),
        F.col("g.n_words").cast("long").alias("n_words"),
        F.col("g.sentiment").alias("sentiment"),
    )


@q(
    "ai4_semantic_knn",
    f"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 80),
       tok AS (SELECT doc_id, unnest({_TOKS}) AS w FROM base),
       bk AS (SELECT doc_id,
                     ('0x' || substr(md5('emb:' || w), 1, 8))::BIGINT % 32 AS bucket,
                     CASE WHEN ('0x' || substr(md5('emb:' || w), 9, 1))::BIGINT % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM tok),
       agg AS (SELECT doc_id, bucket,
                      SUM(s) * 1000 AS val
               FROM bk GROUP BY doc_id, bucket),
       norms AS (SELECT doc_id, SUM(val * val) AS nrm FROM agg GROUP BY doc_id),
       pairs AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id
                 FROM base q CROSS JOIN base c
                 WHERE q.doc_id < 5 AND c.doc_id <> q.doc_id),
       dots AS (SELECT a.doc_id AS query_id, b.doc_id AS cand_id,
                       SUM(a.val * b.val) AS dot
                FROM agg a JOIN agg b USING (bucket)
                WHERE a.doc_id < 5 AND b.doc_id <> a.doc_id
                GROUP BY a.doc_id, b.doc_id),
       s AS (SELECT p.query_id, p.cand_id,
                    round(CASE WHEN COALESCE(na.nrm, 0) > 0 AND COALESCE(nb.nrm, 0) > 0
                               THEN CAST(COALESCE(d.dot, 0) AS DOUBLE)
                                    / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE))
                               ELSE 0.0 END, 6) AS cosine_sim
             FROM pairs p
             LEFT JOIN dots d USING (query_id, cand_id)
             LEFT JOIN norms na ON na.doc_id = p.query_id
             LEFT JOIN norms nb ON nb.doc_id = p.cand_id)
       SELECT CAST(query_id AS BIGINT) AS query_id, CAST(cand_id AS BIGINT) AS cand_id,
              cosine_sim, CAST(rnk AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine_sim DESC, cand_id) AS rnk
             FROM s) t
       WHERE rnk <= 3""",
    "AI4 semantic KNN end-to-end (engine extension): ai_embed generates "
    "document embeddings through the pluggable AI backend (mock: "
    "deterministic signed feature-hashing, SQL-replicable by design) and "
    "knn_bruteforce ranks cosine neighbors over them — the ai_embed -> "
    "similarity-family composition that makes semantic dedup/search a "
    "first-class pipeline, with the whole chain (tokenize -> hash-bucket "
    "-> signed counts -> x1000 quantized cosine -> half-up 6dp round -> "
    "(sim DESC, id) tie-break) pinned against a DuckDB reimplementation.",
)
def ai4_semantic_knn(spark, sf_dir):
    from .functions.ai import ai_embed

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    emb = d.select(
        F.col("doc_id").cast("long").alias("vec_id"),
        ai_embed(F.col("text"), 32).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return SIM.knn_bruteforce(emb, queries, k=3)


@q(
    "t12_chunking",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 200),
       base AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
       ch AS (SELECT doc_id, w,
                     unnest(range(0, CAST(greatest(0,
                         floor((n - 16 + 11) / 12.0)) AS BIGINT) + 1)) AS chunk_id
              FROM base)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(chunk_id AS BIGINT) AS chunk_id,
              CAST(len(list_slice(w, chunk_id * 12 + 1, chunk_id * 12 + 16)) AS BIGINT)
                AS n_tokens,
              array_to_string(list_slice(w, chunk_id * 12 + 1, chunk_id * 12 + 16), ' ')
                AS chunk_text
       FROM ch""",
    "T12 context-window chunking (engine extension; the training-pipeline "
    "prep step between curation and tokenization): overlapping 16-token "
    "windows at stride 12, final chunk short-but-never-redundant. Spark "
    "side is operators.textstats.chunk_documents — map-only sequence + "
    "explode + slice, zero shuffle, chunks at scan speed at any corpus "
    "size; the oracle recomputes identical window boundaries in DuckDB.",
)
def t12_chunking(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return TS.chunk_documents(d, window=16, stride=12)


@q(
    "t13_sequence_packing",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 400),
       base AS (SELECT doc_id, len(w) AS n FROM tok WHERE len(w) > 0),
       o AS (SELECT doc_id, n,
                    SUM(n) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                 ROWS UNBOUNDED PRECEDING) - n AS off
             FROM base),
       ex AS (SELECT doc_id, n, off,
                     unnest(range(CAST(floor(off / 64.0) AS BIGINT),
                                  CAST(floor((off + n - 1) / 64.0) AS BIGINT) + 1))
                       AS bin_id
              FROM o)
       SELECT CAST(bin_id AS BIGINT) AS bin_id,
              CAST(doc_id AS BIGINT) AS doc_id,
              CAST(greatest(0, bin_id * 64 - off) AS BIGINT) AS tok_start,
              CAST(least(n, (bin_id + 1) * 64 - off) AS BIGINT) AS tok_end,
              CAST(greatest(0, off - bin_id * 64) AS BIGINT) AS bin_offset
       FROM ex""",
    "T13 GPT-style sequence packing (engine extension; the step that turns "
    "a curated corpus into fixed-length training examples): deterministic "
    "md5 shuffle, token streams concatenated, cut every 64 tokens — every "
    "bin except the last is exactly full, nothing padded or dropped. The "
    "Spark side (operators.textstats.pack_training_windows) computes the "
    "global token offset as a PARALLEL prefix sum (range shuffle + "
    "per-partition cumsum + broadcast P-entry prefix map), never a "
    "single-task window — offsets are a pure function of the total order, "
    "so the DuckDB oracle's plain window cumsum reproduces them exactly.",
)
def t13_sequence_packing(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return TS.pack_training_windows(d, window=64)


@q(
    "t14_boilerplate_scrub",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents WHERE doc_id < 300),
       base AS (SELECT doc_id, w FROM tok WHERE len(w) > 0),
       g0 AS (SELECT doc_id, w,
                     unnest(range(0, greatest(len(w) - 3 + 1, 0))) AS start
              FROM base),
       grams AS (SELECT doc_id, start,
                        array_to_string(list_slice(w, start + 1, start + 3), ' ') AS gram
                 FROM g0),
       flagged AS (SELECT gram FROM grams GROUP BY gram
                   HAVING COUNT(DISTINCT doc_id) >= 5),
       inst AS (SELECT DISTINCT g.doc_id, g.start AS pos
                FROM grams g JOIN flagged USING (gram)),
       p0 AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM base),
       pos AS (SELECT doc_id, pos, w[pos + 1] AS tok FROM p0),
       mk AS (SELECT p.doc_id, p.pos, p.tok,
                     CASE WHEN i.pos IS NULL THEN 0 ELSE 1 END AS flag
              FROM pos p LEFT JOIN inst i
                ON i.doc_id = p.doc_id AND i.pos = p.pos),
       cv AS (SELECT *, max(flag) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS cov
              FROM mk),
       final AS (SELECT doc_id,
                        CAST(count(*) AS BIGINT) AS n_tokens,
                        CAST(sum(cov) AS BIGINT) AS n_removed,
                        md5(array_to_string(list(tok ORDER BY pos)
                            FILTER (cov = 0), ' ')) AS scrubbed_md5
                 FROM cv GROUP BY doc_id)
       SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tokens, n_removed, scrubbed_md5
       FROM final""",
    "T14 corpus-wide boilerplate n-gram scrub (engine extension; the "
    "repeated-substring removal step between near-dup filtering and "
    "tokenization — Lee et al.'s dedup result motivates it): token "
    "3-grams appearing in >= 5 distinct documents (headers, banners, nav "
    "chrome) are removed from every document; a token goes iff a flagged "
    "gram instance covers it. Spark side is "
    "operators.textstats.boilerplate_ngram_scrub — one gram explode, one "
    "partial-aggregated distinct-doc count, one equi-join against the "
    "small flagged set, one per-doc coverage window, one per-doc rebuild; "
    "no all-pairs, no Python. The oracle replays gram extraction, "
    "flagging, window coverage, and text rebuild identically (md5 of the "
    "scrubbed text keeps the compare narrow).",
)
def t14_boilerplate_scrub(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = TS.boilerplate_ngram_scrub(d, n=3, min_doc_freq=5)
    return out.select(
        "doc_id", "n_tokens", "n_removed",
        F.md5(F.col("scrubbed_text")).alias("scrubbed_md5"),
    )


_T15_CAP_CASE = (
    "CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 10 ELSE 15 END"
)


@q(
    "t20_domain_mixture",
    """WITH n AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
       w AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.25),
                                   ('src2', 0.15), ('src3', 0.10)) AS t(source, w)),
       j AS (SELECT n.source, ns, w FROM n JOIN w USING (source)),
       tt AS (SELECT MIN(CAST(ns AS DOUBLE) / w) AS tot FROM j WHERE w > 0),
       lim AS (SELECT source, CAST(floor(w * tot) AS BIGINT) AS keep_n
               FROM j CROSS JOIN tt),
       r AS (SELECT doc_id, source,
                    row_number() OVER (PARTITION BY source
                        ORDER BY md5('mix' || '|' || CAST(doc_id AS VARCHAR)),
                                 doc_id) AS rn
             FROM documents)
       SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.source
       FROM r JOIN lim USING (source) WHERE rn <= keep_n""",
    "T20 domain-MIXTURE sampling (engine extension; the data-mixing step "
    "of pretraining recipes — The Pile / DoReMi mixture weights, the "
    "proportional complement of t15's absolute caps): target weights per "
    "source resolve to exact keep counts floor(w_s * T) with T = "
    "min(n_s/w_s) — the largest total the corpus supports WITHOUT "
    "upsampling (the binding source keeps everything, the rest "
    "downsample to proportion); rows selected by the md5-rank rule so "
    "the kept SET is reproducible across engines, partitionings, and "
    "re-runs. The oracle replays counts, the feasibility bound, the "
    "floors, and the md5 ranks identically.",
)
def t20_domain_mixture(spark, sf_dir):
    from .operators.sampling import domain_mixture_sample

    d = load_table(spark, sf_dir, "documents")
    return domain_mixture_sample(
        d, {"src0": 0.5, "src1": 0.25, "src2": 0.15, "src3": 0.10}
    )


@q(
    "t15_domain_cap",
    f"""WITH c AS (SELECT doc_id, source,
                  substring(md5('cap' || '|' || CAST(doc_id AS VARCHAR)), 1, 8) AS coord
           FROM documents),
       r AS (SELECT doc_id, source,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY coord, doc_id) AS sample_rank,
                    count(*) OVER (PARTITION BY source) AS stratum_total
             FROM c)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              source,
              CAST(stratum_total AS BIGINT) AS stratum_total,
              CAST(sample_rank AS BIGINT) AS sample_rank,
              CAST(stratum_total AS DOUBLE) /
                CAST(least(stratum_total, {_T15_CAP_CASE}) AS DOUBLE) AS mix_weight
       FROM r WHERE sample_rank <= {_T15_CAP_CASE}""",
    "T15 domain-mix rebalancing (engine extension; the DoReMi-style "
    "source reweighting step): each crawl source keeps AT MOST its capped "
    "document count (src0->5, src1->10, default 15), selected as the "
    "stratum's lowest deterministic sampling coordinates — exact counts, "
    "stable under re-runs/appends/partitioning, with mix_weight = "
    "total/kept for downstream loss reweighting. Spark side is "
    "operators.sampling.cap_per_stratum: the row_number<=cap filter is "
    "the WindowGroupLimit shape (per-group top-cap heap, never a full "
    "stratum sort); the oracle replays coordinates, ranks, caps, and "
    "weights identically.",
)
def t15_domain_cap(spark, sf_dir):
    from .operators.sampling import cap_per_stratum

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = cap_per_stratum(
        d, "source", {"src0": 5, "src1": 10}, ["doc_id"], seed="cap",
        default_cap=15,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source", "stratum_total", "sample_rank", "mix_weight",
    )


def _c1_oracle() -> str:
    from .operators.sampling import split_thresholds

    case = "CASE"
    for name, thr in split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1}):
        if thr is None:
            case += f" ELSE '{name}' END"
        else:
            case += f" WHEN substring(md5('split' || '|' || CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}' THEN '{name}'"
    return f"""WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 500000, text FROM documents WHERE doc_id < 20),
       tok AS (SELECT doc_id, {_TOKS} AS w FROM corpus),
       st AS (SELECT doc_id, len(w) AS n_tokens,
                     round(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
                       AS dup_frac,
                     md5(array_to_string(w, ' ')) AS fp
              FROM tok WHERE len(w) > 0),
       qf AS (SELECT *, CASE WHEN n_tokens >= 10 AND dup_frac <= 0.6
                             THEN 1 ELSE 0 END AS qok FROM st),
       keep AS (SELECT fp, MIN(doc_id) AS keeper FROM qf WHERE qok = 1 GROUP BY fp),
       lab AS (SELECT q.doc_id, q.n_tokens, q.dup_frac,
                      CASE WHEN q.qok = 0 THEN 'quality_drop'
                           WHEN q.doc_id <> k.keeper THEN 'dup_drop'
                           ELSE 'kept' END AS status
               FROM qf q LEFT JOIN keep k ON q.fp = k.fp)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(n_tokens AS BIGINT) AS n_tokens,
              dup_frac AS dup_token_frac,
              status,
              CASE WHEN status = 'kept' THEN {case} END AS split
       FROM lab"""


@q(
    "c1_curation_pipeline",
    _c1_oracle(),
    "C1 end-to-end curation pipeline (north-star flagship composition): "
    "the decision chain a real training-data pipeline executes per "
    "document — quality gate (token count >= 10, Gopher dup-token "
    "fraction <= 0.6), exact-content dedup among quality survivors "
    "(min-id keeper per md5 fingerprint: a content-addressed 32-char hash "
    "join, never a blob compare), then leakage-safe 80/10/10 split "
    "assignment for kept docs (md5-threshold membership keyed on the "
    "document entity). Every stage reuses the oracle-portable primitives "
    "already pinned individually (t10, d1, t6), and the composition "
    "itself is re-verified end-to-end by this row: one scan, one token "
    "explode, two partial-aggregated shuffles, one fingerprint hash join "
    "— the same plan shape at 100 TB.",
)
def c1_curation_pipeline(spark, sf_dir):
    from .operators.sampling import assign_split

    raw = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # seed exact copies (same idiom as d1/d2) so the dedup branch of the
    # decision chain is exercised and driver-pinned, not just reachable
    d = raw.unionByName(
        raw.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 500000).alias("doc_id"), "text"
        )
    )
    tok = d.select("doc_id", F.explode(TS.tokens(F.col("text"))).alias("w"))
    st = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
    )
    base = (
        d.join(st, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            TS.fingerprint(F.col("text")).alias("fp"),
        )
        .withColumn(
            "qok", (F.col("n_tokens") >= 10) & (F.col("dup_token_frac") <= 0.6)
        )
    )
    keep = base.filter("qok").groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    labeled = base.join(keep, "fp", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        F.when(~F.col("qok"), F.lit("quality_drop"))
        .when(F.col("doc_id") != F.col("keeper"), F.lit("dup_drop"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
    split_col = assign_split(["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    return labeled.withColumn(
        "split", F.when(F.col("status") == "kept", split_col)
    )


def _d2_oracle() -> str:
    from .queries_core import QUERIES

    return next(q_.oracle for q_ in QUERIES if q_.name == "d2_minhash_lsh_pairs")


@q(
    "d5_dup_clusters",
    f"""WITH RECURSIVE pairs AS (
{_d2_oracle()}
       ),
       edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                 UNION ALL
                 SELECT doc_b AS a, doc_a AS b FROM pairs),
       verts AS (SELECT DISTINCT a AS v FROM edges),
       reach(src, node) AS (
           SELECT v, v FROM verts
           UNION
           SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
       ),
       comp AS (SELECT src AS doc_id, MIN(node) AS cluster_rep
                FROM reach GROUP BY src)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(cluster_rep AS BIGINT) AS cluster_rep,
              CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
                  AS cluster_size,
              CAST(CASE WHEN doc_id = cluster_rep THEN 1 ELSE 0 END AS BIGINT)
                  AS is_canonical
       FROM comp""",
    "D5 duplicate-cluster formation (engine extension): connected components "
    "over the d2 MinHash-LSH verified pair set, canonical doc = component "
    "min id. Spark side is operators.dedup.duplicate_clusters (min-label "
    "propagation: O(edges) shuffle per round, JVM-only, lineage truncated "
    "per round); oracle is a DuckDB recursive-CTE transitive closure — an "
    "independent algorithm for the same components. This is the step that "
    "turns near-dup PAIRS into the keep/drop decision a training-data "
    "pipeline actually executes ('A~B, B~C' must dedupe to one survivor "
    "even though (A,C) was never emitted).",
)
def d5_dup_clusters(spark, sf_dir):
    pairs = _d2_pairs_cached(spark, sf_dir)
    clusters = DD.duplicate_clusters(pairs)
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_rep")
    return clusters.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_rep")).cast("long").alias("is_canonical"),
    )


_D2_PAIRS_CACHE: dict = {}


def _d2_pairs_cached(spark, sf_dir):
    """The d2 MinHash-LSH verified pair set, computed once per (session,
    sf_dir) and reused via localCheckpoint — db_neardup_battery needs the
    pairs twice (the d2 branch and d5's cluster input), and recomputing the
    whole shingle->minhash->band pipeline doubles the battery's cost. The
    d2 singleton fn itself stays un-cached so plan gates see the real plan."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _D2_PAIRS_CACHE.get(key)
    if got is None:
        from .queries_core import QUERIES

        d2 = next(q_.fn for q_ in QUERIES if q_.name == "d2_minhash_lsh_pairs")
        got = _D2_PAIRS_CACHE[key] = d2(spark, sf_dir).localCheckpoint()
    return got


@q(
    "t7_winnow_overlap",
    f"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
       chim AS (SELECT a.doc_id + 200000 AS doc_id,
                       substring(a.text, 1, 150) || ' ' || substring(b.text, 1, 150) AS text
                FROM base a JOIN base b ON b.doc_id = a.doc_id + 20
                WHERE a.doc_id < 10),
       corpus AS (SELECT * FROM base UNION ALL SELECT * FROM chim),
       norm AS (SELECT doc_id,
                       list_transform(string_split_regex(array_to_string({_TOKS}, ' '), ''),
                                      c -> CAST(unicode(c) AS BIGINT)) AS cp
                FROM corpus),
       kg AS (SELECT doc_id,
                     CASE WHEN len(cp) >= 12 THEN
                       list_transform(range(1, len(cp) - 10), i ->
                         list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                  list_slice(cp, i, i + 11)),
                                     (acc, x) -> (acc * 257 + x) % 2147483647))
                     ELSE CAST([] AS BIGINT[]) END AS kgh
              FROM norm),
       mins AS (SELECT doc_id,
                     CASE WHEN len(kgh) >= 8 THEN
                       list_transform(range(1, len(kgh) - 6), j ->
                                      list_min(list_slice(kgh, j, j + 7)))
                     WHEN len(kgh) > 0 THEN [list_min(kgh)]
                     ELSE CAST([] AS BIGINT[]) END AS m
              FROM kg),
       fps AS (SELECT DISTINCT doc_id, unnest(m) AS fp FROM mins)
       SELECT CAST(a.doc_id AS BIGINT) AS doc_a,
              CAST(b.doc_id AS BIGINT) AS doc_b,
              CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING COUNT(*) >= 3""",
    "T7 winnowing partial-overlap pairs (MOSS fingerprinting): every "
    "k=12-gram Rabin-Karp hash, min per w=8 sliding window, pairs sharing "
    ">= 3 fingerprints via equi-join on fingerprint — local-similarity "
    "complement to whole-doc dedup, no all-pairs comparison. Chimera docs "
    "(first 150 chars of two sources spliced) are injected so true partial "
    "overlaps exist deterministically; the winnowing guarantee makes them "
    "discoverable (shared substring >= k+w-1 chars -> shared fingerprint).",
)
def t7_winnow_overlap(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 40).select("doc_id", "text")
    a = base.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("i"), F.substring("text", 1, 150).alias("ta")
    )
    b = base.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30)).select(
        (F.col("doc_id") - 20).alias("i"), F.substring("text", 1, 150).alias("tb")
    )
    chim = a.join(b, "i").select(
        (F.col("i") + 200000).alias("doc_id"),
        F.concat(F.col("ta"), F.lit(" "), F.col("tb")).alias("text"),
    )
    corpus = base.unionByName(chim)
    fps = TS.winnow_fingerprint_rows(corpus, k=12, w=8).select(
        F.col("id").cast("long").alias("doc_id"), "fp"
    )
    fa, fb = fps.alias("a"), fps.alias("b")
    return (
        fa.join(fb, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


@q(
    "t9_decontaminate",
    f"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 15),
       trainbase AS (SELECT doc_id, text FROM documents WHERE doc_id >= 15),
       chim AS (SELECT a.doc_id + 300000 AS doc_id,
                       substring(a.text, 1, 120) || ' ' || substring(b.text, 1, 120) AS text
                FROM bench a JOIN documents b ON b.doc_id = a.doc_id + 100
                WHERE a.doc_id < 10),
       train AS (SELECT * FROM trainbase UNION ALL SELECT * FROM chim),
       btok AS (SELECT doc_id AS bench_id, {_TOKS} AS w FROM bench),
       bgr AS (SELECT DISTINCT bench_id, g FROM (
           SELECT bench_id,
                  unnest(CASE WHEN len(w) >= 8 THEN
                           list_transform(range(1, len(w) - 6), i ->
                             array_to_string(list_slice(w, i, i + 7), ' '))
                         ELSE CAST([] AS VARCHAR[]) END) AS g
           FROM btok)),
       ttok AS (SELECT doc_id AS train_id, {_TOKS} AS w FROM train),
       tgr AS (SELECT train_id,
                      unnest(CASE WHEN len(w) >= 8 THEN
                               list_transform(range(1, len(w) - 6), i ->
                                 array_to_string(list_slice(w, i, i + 7), ' '))
                             ELSE CAST([] AS VARCHAR[]) END) AS g
               FROM ttok),
       hits AS (SELECT t.train_id, t.g, b.bench_id
                FROM tgr t JOIN bgr b USING (g))
       SELECT CAST(train_id AS BIGINT) AS train_id,
              CAST(COUNT(DISTINCT g) AS BIGINT) AS n_shared_grams,
              CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_docs
       FROM hits GROUP BY train_id""",
    "T9 benchmark decontamination (engine extension; north-star curation "
    "family): flag every training doc sharing an exact 8-token gram with a "
    "held-out benchmark set — the GPT-3/Llama n-gram-overlap hygiene pass. "
    "Spark side is operators.textstats.ngram_contamination (train grams "
    "off posexplode+LEAD, tiny bench gram set DISTINCTed then broadcast, "
    "map-side flagging join); oracle recomputes the same token grams with "
    "DuckDB list ops. The corpus seeds chimeric train docs that splice a "
    "bench prefix onto an unrelated doc, so the probe pins real hits, and "
    "doc_id<15 benchmark rows are excluded from the train side entirely.",
)
def t9_decontaminate(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 15).select("doc_id", "text")
    trainbase = d.filter(F.col("doc_id") >= 15).select("doc_id", "text")
    a = bench.filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("i"), F.substring("text", 1, 120).alias("ta")
    )
    b = d.select((F.col("doc_id") - 100).alias("i"), F.substring("text", 1, 120).alias("tb"))
    chim = a.join(b, "i").select(
        (F.col("i") + 300000).alias("doc_id"),
        F.concat(F.col("ta"), F.lit(" "), F.col("tb")).alias("text"),
    )
    train = trainbase.unionByName(chim)
    return TS.ngram_contamination(train, bench, n=8)


@q(
    "t10_repetition",
    f"""WITH tok AS (SELECT doc_id, {_TOKS} AS w FROM documents),
       base AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct, w
                FROM tok WHERE len(w) > 0),
       bg AS (SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 2 THEN
                              list_transform(range(1, len(w)), i ->
                                w[i] || ' ' || w[i + 1])
                            ELSE CAST([] AS VARCHAR[]) END) AS g
              FROM base),
       cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
       top AS (SELECT doc_id, g AS top_bigram, c AS top_c,
                      SUM(c) OVER (PARTITION BY doc_id) AS n_bigrams
               FROM cnt
               QUALIFY row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, g ASC) = 1)
       SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
              CAST(b.n_tokens AS BIGINT) AS n_tokens,
              round(1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6) AS dup_token_frac,
              t.top_bigram,
              round(COALESCE(CAST(t.top_c AS DOUBLE) / t.n_bigrams, 0.0), 6) AS top_bigram_frac
       FROM base b LEFT JOIN top t USING (doc_id)""",
    "T10 repetition-quality signals (engine extension; Gopher rules, Rae "
    "et al. 2021 table A1): per-doc duplicate-token fraction and "
    "top-bigram concentration — the boilerplate/generated-text signature "
    "a curation pipeline filters on. Spark side is "
    "operators.textstats.repetition_stats: one token explode, one "
    "exchange on doc id reused by both aggregates, deterministic "
    "lexicographic tie-break for the top bigram in both engines.",
)
def t10_repetition(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TS.repetition_stats(d)


_PII_SEED = (
    " reach me at jane.doe+spam@mail-host.example.org or (415) 555-0132 ok"
)
_PII_SEED2 = " ssn 123-45-6789 on file"


@q(
    "t11_pii_scrub",
    """WITH seeded AS (
         SELECT doc_id,
                text
                || CASE WHEN doc_id % 20 = 0
                        THEN ' reach me at jane.doe+spam@mail-host.example.org or (415) 555-0132 ok'
                        ELSE '' END
                || CASE WHEN doc_id % 30 = 0
                        THEN ' ssn 123-45-6789 on file' ELSE '' END AS t
         FROM documents),
       s1 AS (SELECT doc_id,
                     len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS n_emails,
                     regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t
              FROM seeded),
       s2 AS (SELECT doc_id, n_emails,
                     len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssns,
                     regexp_replace(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS t
              FROM s1),
       s3 AS (SELECT doc_id, n_emails, n_ssns,
                     len(regexp_extract_all(t, '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS n_phones,
                     regexp_replace(t, '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS t
              FROM s2)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(n_emails AS BIGINT) AS n_emails,
              CAST(n_ssns AS BIGINT) AS n_ssns,
              CAST(n_phones AS BIGINT) AS n_phones,
              CAST(length(t) AS BIGINT) AS clean_len,
              md5(t) AS redacted_md5
       FROM s3""",
    "T11 PII detection + redaction (engine extension; the mandatory "
    "pre-release corpus pass): email/SSN/phone counted then redacted "
    "sequentially on the progressively cleaned text, so the loose phone "
    "pattern cannot swallow SSNs and digit-free replacement tokens cannot "
    "re-match. Spark side is operators.textstats.pii_scrub — map-only "
    "codegen regex, zero shuffle at any scale; the md5 of the redacted "
    "text pins byte-exact redaction output across engines. PII is seeded "
    "deterministically into 1-in-20 docs (the synthetic corpus has none).",
)
def t11_pii_scrub(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 20 == 0, F.lit(_PII_SEED)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 30 == 0, F.lit(_PII_SEED2)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return TS.pii_scrub(seeded)
