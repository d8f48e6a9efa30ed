"""Deduplication operators for document corpora.

The reference's dedup surface is the windowed latest/earliest-record idiom
(``/root/reference/industry-examples/retail.sql:120-125``,
``clinicdata.sql:143-161``, ``semantics.sql:137-151``) plus duplicate
detection via GROUP BY/HAVING (``manufacturing.sql:86-91``). This module
generalizes that to the dedup families a training-data pipeline needs:

- exact dedup: content-hash groupBy (shuffle on a 32-char key, not the blob)
- n-gram Jaccard near-dup: shingle-set overlap for candidate pairs
- MinHash + LSH: banded minhash signatures -> bucket join -> verified pairs.
  Scale path: candidate generation is an equi-join on (band_id, signature),
  i.e. a shuffle whose width is O(docs x bands), never O(docs^2).
- SimHash: 64-bit bit-majority signature, hamming-distance buckets.

Determinism note: minhashes are built from md5 digests (one per gram; the
k permutations derive from its two halves, Kirsch-Mitzenmacher style), not
JVM hash seeds, so signatures are stable across engines/runs and can be
checked against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import _fan_out, fingerprint, tokens
from ..session import local_frame

# ---------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per distinct (md5-hashed) content.

    Hash first so the shuffle key is 32 chars — at 100 TB the alternative
    (groupBy on the raw text column) shuffles the full corpus payload."""
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("content_hash", fingerprint(F.col(text_col)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group report: hash -> n_docs, min/max id (HAVING COUNT>1)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("keep_id"),
            F.max(id_col).cast("long").alias("max_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------- shingles


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (sorted array<string> for determinism)."""
    toks = tokens(col)
    n_grams = F.size(toks) - (n - 1)
    grams = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_sort(F.array_distinct(grams))


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two distinct-element arrays (exact ints / double)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return F.when(union > 0, F.round(inter / union, 6)).otherwise(F.lit(0.0))


# ---------------------------------------------------------------- minhash-LSH


_MH_PRIME = 2147483647  # 2^31 - 1: (a + 8b) stays far under int64


def _km_hashes(g: Column, num_hashes: int) -> list[Column]:
    """k per-gram hash values from ONE md5 digest (Kirsch-Mitzenmacher,
    "Less Hashing, Same Performance"): h_i = (a + (i+1)*b) mod p, with a/b
    the digest's two 60-bit halves. One digest per gram replaces k of them
    in the map-side hot loop — the dominant minhash cost at corpus scale
    (k=8 over trigram streams is ~8x the hash work of everything else) —
    and int mins partial-aggregate cheaper than 32-char hex mins.
    Engine-portable: DuckDB replays each half as
    ``CAST('0x' || substring(md5(g), ..) AS BIGINT)``."""
    h = F.md5(g)
    a = F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _MH_PRIME
    b = F.conv(F.substring(h, 17, 15), 16, 10).cast("long") % _MH_PRIME
    return [(a + (i + 1) * b) % _MH_PRIME for i in range(num_hashes)]


def minhash_signature(shingle_col: Column, num_hashes: int) -> list[Column]:
    """k minhashes of a shingle array: array_min over the KM hash family.

    md5-as-permutation keeps signatures engine-portable and seed-stable;
    the k permutations derive from one digest per shingle (:func:`_km_hashes`)."""
    return [
        F.array_min(F.transform(shingle_col, lambda s, i=i: _km_hashes(s, i + 1)[i]))
        for i in range(num_hashes)
    ]


def _token_grams(df: DataFrame, text_col: str, id_col: str, shingle_n: int) -> DataFrame:
    """(id, g) token shingles via posexplode + window LEAD instead of the
    array-lambda shingles() column: per-token codegen'd string ops replace
    an interpreted transform(sequence, concat_ws(element_at...)) per doc
    (~6x at sf0.1). One shuffle on id positions the window; every
    downstream per-doc aggregate reuses that exchange. The fan-out guard
    keeps the tokenize+posexplode map stage off a single core when the
    doc frame arrives as one split (textstats._fan_out — the r11 t18
    finding); repartitioning BY the window key means the guard's exchange
    replaces, not precedes, the window's own."""
    tok = _fan_out(df, id_col).select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    win = Window.partitionBy("id").orderBy("pos")
    lead_cols = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, shingle_n)]
    return (
        tok.select("id", F.lead("w", shingle_n - 1).over(win).alias("_last"),
                   F.concat_ws(" ", *lead_cols).alias("g"))
        .filter(F.col("_last").isNotNull())
        .select("id", "g")
    )


def _banded(grams: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(id, band_id, band_sig) banded MinHash signatures from a gram set.
    Minhashes via groupBy(min): duplicate grams cannot change a MIN, so no
    distinct needed; the k mins derive from ONE md5 per gram
    (:func:`_km_hashes`), partial-aggregate map-side as ints, and the
    banded shuffle carries short "int|int" strings."""
    n_bands = num_hashes // band_size
    hs = _km_hashes(F.col("g"), num_hashes)
    mh = grams.groupBy("id").agg(
        *[F.min(hs[i]).alias(f"h{i}") for i in range(num_hashes)]
    )
    return mh.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{j}").cast("string")
                            for j in range(b * band_size, (b + 1) * band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    )


def banded_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_id, band_sig) banded MinHash signatures — the LSH blocking
    state of :func:`minhash_lsh_pairs`, exposed for consumers that persist
    or stream it (streaming near-dup ingest keeps this as its cross-batch
    state table; two docs sharing any (band_id, band_sig) row are LSH
    candidates)."""
    return _banded(_token_grams(df, text_col, id_col, shingle_n), num_hashes, band_size)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified by true Jaccard.

    Plan shape (the part that matters at 100 TB):
      1. map-only: shingle + k minhashes per doc (no shuffle)
      2. explode bands -> shuffle on (band_id, band_signature): docs sharing
         a band co-locate; bucket size is bounded by collision rate, never
         all-pairs
      3. self-join within bucket (a.id < b.id) -> candidate pairs
      4. verify candidates with exact Jaccard on the shingle sets
    """
    grams = _token_grams(df, text_col, id_col, shingle_n)
    banded = _banded(grams, num_hashes, band_size)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verify the (few) candidates with exact Jaccard: join the distinct
    # shingle sets back by id — candidates << corpus, so these are narrow
    # hash-join probes, and shingle arrays never enter the LSH shuffle.
    sets = grams.groupBy("id").agg(F.collect_set("g").alias("shingles"))
    sh_a = sets.select(F.col("id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sets.select(F.col("id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard_sim")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_id: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard above a threshold (exact, for small scopes /
    verification; the scale path is minhash_lsh_pairs)."""
    docs = df.select(
        F.col(id_col).cast("long").alias("id"),
        shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    if max_id is not None:
        docs = docs.filter(F.col("id") < max_id)
    # small-scope exact operator: coalesce so the theta self-join doesn't
    # explode into n_partitions^2 tasks (scale path = minhash_lsh_pairs).
    # Width follows the cluster unless the caller pins it.
    if partitions is None:
        partitions = max(2, df.sparkSession.sparkContext.defaultParallelism // 8)
    docs = docs.coalesce(partitions)
    a, b = docs.alias("a"), docs.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# ---------------------------------------------------------------- simhash


def _simhash_from_hashes(hashes: Column) -> Column:
    """Bit-majority 64-bit signature from an array<long> of token hashes."""

    def signed_mask(i: int) -> int:
        # bit 63 must be expressed as the sign bit of a signed int64
        return (1 << i) if i < 63 else -(1 << 63)

    def vote(bit: int):
        # factory keeps the merge lambda strictly 2-arg (acc, h); extra
        # default args would change the higher-order-function signature
        mask = F.lit(bit).cast("long")
        return lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1)

    bit_votes = [
        F.aggregate(hashes, F.lit(0).cast("long"), vote(signed_mask(i))) for i in range(64)
    ]
    out = F.lit(0).cast("long")
    for i, v in enumerate(bit_votes):
        # masks are disjoint -> OR composes the signature without overflow
        out = out.bitwiseOR(F.when(v > 0, F.lit(signed_mask(i)).cast("long")).otherwise(F.lit(0).cast("long")))
    return out


def simhash64(col: Column) -> Column:
    """64-bit SimHash of the token multiset (xxhash64 per token, bit-majority).

    Engine-internal signature (JVM hash function) — the fastest path; for a
    signature an external SQL oracle can replicate use
    :func:`simhash64_md5`."""
    return _simhash_from_hashes(F.transform(tokens(col), lambda t: F.xxhash64(t)))


def simhash64_md5(col: Column) -> Column:
    """64-bit SimHash with md5-derived token hashes — engine-portable: the
    per-token 64 bits are the first 16 hex chars of md5('sh:' || token)
    (two 32-bit halves), so the whole signature is replicable in any SQL
    engine with md5 (the d4 oracle twin does exactly this in DuckDB).
    ~2x the hash cost of xxhash64; same blocking/verify machinery."""

    def h64(t: Column) -> Column:
        d = F.md5(F.concat(F.lit("sh:"), t))
        hi = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    return _simhash_from_hashes(F.transform(tokens(col), h64))


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """(id, sig) SimHash signatures via explode -> groupBy bit votes.

    The column-level :func:`simhash64`/:func:`simhash64_md5` forms are
    convenient inside a select, but Catalyst inlines the token+hash
    expression tree into each of the 64 ``F.aggregate`` votes (and again
    under any downstream Generate), so tokenization+hashing runs 64x per
    row, interpreted. This frame-level form hashes each token ONCE
    (explode -> one md5/xxhash64 per token row) and takes the 64 bit
    votes as partial-aggregated conditional SUMs — the shape that scales:
    map-side combine, one narrow shuffle of (id, 64 ints).

    Docs whose text yields zero tokens keep an all-zero signature (same
    contract as the column form, whose empty-array votes are all 0)."""

    def signed_mask(i: int) -> int:
        return (1 << i) if i < 63 else -(1 << 63)

    if portable:
        d = F.md5(F.concat(F.lit("sh:"), F.col("t")))
        h64 = (
            F.shiftleft(F.conv(F.substring(d, 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(F.conv(F.substring(d, 9, 8), 16, 10).cast("long"))
        )
    else:
        h64 = F.xxhash64(F.col("t"))

    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    tok = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).select("id", h64.alias("h"))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(signed_mask(i)).cast("long")) != 0, 1)
                .otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(signed_mask(i)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return (
        ids.join(votes.select("id", sig.alias("sig")), "id", "left")
        .select("id", F.coalesce("sig", F.lit(0).cast("long")).alias("sig"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on equal-width
    signature chunks (pigeonhole blocking). ``portable=True`` uses the
    md5-derived signature (:func:`simhash64_md5`) so results are
    replicable by a cross-engine SQL oracle.

    Pigeonhole guarantee: two 64-bit signatures within hamming distance
    ``d`` differ in at most ``d`` chunks, so with ``n_chunks`` chunks they
    share at least one exact chunk whenever ``d <= n_chunks - 1`` —
    candidates come from an equi-join on (chunk_id, chunk_value) and
    all-pairs never materializes. ``max_hamming > n_chunks - 1`` would
    silently drop pairs, so it raises: raise ``n_chunks`` instead (8 chunks
    of 8 bits covers hamming <= 7; coarser chunks => bigger candidate
    buckets, the standard recall/cost dial)."""
    if 64 % n_chunks != 0:
        raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee of "
            f"{n_chunks}-chunk blocking (<= {n_chunks - 1}); raise n_chunks"
        )
    chunk_bits = 64 // n_chunks
    chunk_mask = (1 << chunk_bits) - 1
    sig = simhash_signatures(df, text_col, id_col, portable=portable)
    chunks = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftrightunsigned("sig", chunk_bits * i)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("chunk_val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select("id", "sig", "c.chunk_id", "c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "doc_a", "doc_b", hamming.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------------ cluster formation


# driver union-find ceiling for duplicate_clusters (tests pin the
# distributed path by patching this to -1)
_CC_LOCAL_MAX_EDGES = 2_000_000


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_rep).

    Pair emitters (minhash_lsh_pairs, ngram_jaccard_pairs, simhash) give
    EDGES; an actual dedup pipeline must then pick ONE canonical document
    per transitive group — "A~B, B~C" dedupes to one survivor even though
    (A, C) was never emitted. cluster_rep is the component's minimum id
    (deterministic), so `keep = (doc_id == cluster_rep)`.

    Algorithm: min-label propagation. Every vertex starts labeled with its
    own id; each round takes the min of its label and its neighbors'
    labels; fixpoint = components. Each round is one shuffle join + one
    partial-aggregated groupBy — all JVM-side, no UDFs. Rounds needed =
    eccentricity of each component's min vertex; near-dup clusters are
    shallow (pair generators emit most intra-cluster edges directly), so
    this converges in 2-4 rounds in practice. ``localCheckpoint`` truncates
    the growing lineage every round (iterative plans otherwise re-derive
    the whole chain each action).

    At 100 TB: same pattern as Hash-to-Min / GraphFrames CC — shuffle
    volume per round is O(edges); convergence checks are one count per
    round on an already-materialized frame. A pathological long chain of
    near-dups (diameter > max_iter) raises rather than silently returning
    partial clusters.
    """
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionAll(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # materialize ONCE: edges are re-joined every round, and the pair
        # generator upstream (LSH banding etc.) must not re-run per round
        .localCheckpoint(eager=True)
    )
    # near-dup graphs are SPARSE (pairs already passed a similarity
    # threshold): when the edge set is collectible, one driver union-find
    # pass replaces several rounds of shuffle latency — components and
    # their min-id reps are algorithm-independent, so results are
    # identical; the distributed loop below remains for edge sets too
    # big to collect (the true 100 TB path)
    rows = edges.take(_CC_LOCAL_MAX_EDGES + 1)
    if len(rows) <= _CC_LOCAL_MAX_EDGES:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for e in rows:
            a, b = int(e["src"]), int(e["dst"])
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        verts = {int(e["src"]) for e in rows}
        out = [(v, find(v)) for v in sorted(verts)]
        return local_frame(
            pairs.sparkSession, out, "doc_id LONG, cluster_rep LONG"
        )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep")
            )
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — "
        "component diameter exceeds max_iter; raise max_iter"
    )
