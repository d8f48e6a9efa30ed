"""Deterministic sampling & dataset splitting for training-data pipelines.

Not in the reference SQL surface (north-star extension, same family as the
dedup/similarity operators): corpus curation needs *reproducible* sampling
— re-running the pipeline, on any cluster layout, must select the same
rows, and adding data must not reshuffle previous selections. Spark's
``df.sample``/``sampleBy`` are seed-stable only for a fixed partitioning,
which a 1000-executor re-run does not guarantee.

The portable primitive: a row's sampling coordinate is the first 8 hex
chars of ``md5(seed | key...)`` — a uniform 32-bit value compared against
a hex threshold ``floor(rate * 16^8)``. Pure string ops on a hash both
engines (and any SQL dialect with md5) compute identically; membership is
a pure function of (seed, key), independent of partitioning, ordering, or
engine. Everything is JVM-side codegen — no UDFs, no RNG state.

Keyed-hash sampling is also the idiom's scale story: no shuffle at all
(map-only filter), and consistent across tables — sampling two tables by
the same join key yields co-sampled rows (the classic "sample users, keep
all their events" trick).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = [
    "sample_coord",
    "deterministic_sample",
    "stratified_sample",
    "assign_split",
    "cap_per_stratum",
]

_SPACE = 1 << 32  # 8 hex chars


def _threshold_hex(rate: float) -> str:
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if rate * _SPACE >= _SPACE:
        # rate == 1.0 (or rounds up to the full space). format(2**32) would be
        # the 9-char '100000000', which compares LESS than most 8-char coords
        # lexicographically ('1' < '2'..'f') and silently drops ~94% of rows.
        # 'g' sorts above every lowercase-hex string in any engine's binary
        # string collation, so `coord < 'g'` keeps everything.
        return "g"
    return format(int(rate * _SPACE), "08x")


def sample_coord(key_cols: list[str], seed: str = "smp") -> Column:
    """The row's deterministic sampling coordinate: 8 lowercase hex chars,
    uniform over the key space."""
    parts = [F.col(c).cast("string") for c in key_cols]
    return F.substring(F.md5(F.concat_ws("|", F.lit(seed), *parts)), 1, 8)


def deterministic_sample(
    df: DataFrame, rate: float, key_cols: list[str], seed: str = "smp"
) -> DataFrame:
    """Keep ~``rate`` of rows, reproducibly (membership is a pure function
    of seed + key, never of partitioning)."""
    return df.filter(sample_coord(key_cols, seed) < F.lit(_threshold_hex(rate)))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_cols: list[str],
    seed: str = "smp",
) -> DataFrame:
    """Per-stratum rates (e.g. downsample dominant languages, keep rare
    ones whole). Strata absent from ``rates`` are dropped."""
    coord = sample_coord(key_cols, seed)
    keep = F.lit(False)
    for stratum, rate in sorted(rates.items()):
        keep = keep | (
            (F.col(strata_col) == F.lit(stratum)) & (coord < F.lit(_threshold_hex(rate)))
        )
    return df.filter(keep)


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-threshold-hex) per split in sorted-name order; the last
    split's threshold is None (catch-all). Shared by the Column form and
    any SQL oracle so both sides use bit-identical boundaries."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    items = sorted(weights.items())
    out: list[tuple[str, str]] = []
    acc = 0.0
    for name, w in items[:-1]:
        acc += w
        out.append((name, _threshold_hex(acc)))
    out.append((items[-1][0], None))
    return out


def assign_split(
    key_cols: list[str],
    weights: dict[str, float],
    seed: str = "split",
) -> Column:
    """Label each row 'train'/'val'/'test' (any names) by contiguous hash
    ranges sized by ``weights`` (must sum to ~1). Deterministic, disjoint,
    exhaustive — the standard leakage-safe split: key the hash on the
    GROUPING entity (user id, document id) so all of an entity's rows land
    in the same split."""
    coord = sample_coord(key_cols, seed)
    expr = None
    for name, thr in split_thresholds(weights):
        if thr is None:
            return (F.lit(name) if expr is None else expr.otherwise(F.lit(name))).alias(
                "split"
            )
        cond = coord < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    raise AssertionError("unreachable")


def cap_per_stratum(
    df: DataFrame,
    strata_col: str,
    caps: dict[str, int],
    key_cols: list[str],
    seed: str = "cap",
    default_cap: int | None = None,
) -> DataFrame:
    """Domain-mix rebalancing: keep AT MOST ``caps[stratum]`` rows per
    stratum (e.g. cap each crawl source / domain at N documents), selected
    deterministically as the stratum's lowest sampling coordinates — exact
    counts where rate sampling only gives expectations, and the selection
    is stable under re-runs, repartitioning, and appends (an append can
    displace the highest-coordinate members, never reshuffle the rest).
    Strata absent from ``caps`` use ``default_cap`` (None = keep whole).

    Output adds ``stratum_total`` (pre-cap size), ``sample_rank`` (1-based
    coordinate rank within the stratum) and ``mix_weight`` =
    total/kept — the inverse sampling rate downstream loss reweighting
    needs (DoReMi-style domain mixing runs exactly this shape).

    Scale: pre-cap totals come from a partial-aggregated groupBy (tiny,
    broadcast back) — never a count-over-partition window that would force
    full-stratum materialization. The rank filter carries a LITERAL
    ``sample_rank <= max(all caps)`` pre-bound whenever every stratum is
    capped, which is the shape Catalyst's InferWindowGroupLimit rewrites
    into a per-group top-cap heap (WindowGroupLimit) — a hot domain costs
    O(cap) memory per task, not a full sort; the exact per-stratum CASE
    bound then filters the survivors."""
    from pyspark.sql import Window

    coord = sample_coord(key_cols, seed)
    order = [coord.asc()] + [F.col(c).asc() for c in key_cols]
    w = Window.partitionBy(strata_col).orderBy(*order)
    cap_expr = None
    for stratum, cap in sorted(caps.items()):
        cond = F.col(strata_col) == F.lit(stratum)
        lit = F.lit(int(cap))
        cap_expr = F.when(cond, lit) if cap_expr is None else cap_expr.when(cond, lit)
    if cap_expr is None:
        cap_expr = F.lit(default_cap)
    elif default_cap is not None:
        cap_expr = cap_expr.otherwise(F.lit(int(default_cap)))
    totals = df.groupBy(strata_col).agg(F.count("*").cast("long").alias("stratum_total"))
    ranked = df.withColumn("sample_rank", F.row_number().over(w))
    if caps and default_cap is not None:
        # every stratum bounded: a literal rank bound Catalyst can push
        # into the window as a group limit
        global_max = max(max(caps.values()), int(default_cap))
        ranked = ranked.filter(F.col("sample_rank") <= F.lit(global_max))
    kept = ranked.filter(
        cap_expr.isNull() | (F.col("sample_rank") <= cap_expr)
    ).join(F.broadcast(totals), strata_col)
    kept_n = F.least(F.col("stratum_total"), F.coalesce(cap_expr, F.col("stratum_total")))
    return kept.withColumn(
        "mix_weight",
        F.col("stratum_total").cast("double") / kept_n.cast("double"),
    ).withColumn("sample_rank", F.col("sample_rank").cast("long"))


def domain_mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Deterministic domain-MIXTURE rebalancing — the data-mixing step of
    pretraining recipes (The Pile / DoReMi-style mixture weights), the
    proportional complement of :func:`cap_per_stratum`'s absolute caps:
    given target mixture ``weights`` per source, keep exactly
    ``floor(w_s * T)`` rows of each source where ``T = min_s(n_s / w_s)``
    — the largest total the corpus supports WITHOUT upsampling (the
    binding source keeps everything; every other source downsamples to
    the target proportion). Selection within a source is the md5-rank
    rule (engine-portable, reproducible, leakage-free — the
    :func:`deterministic_sample` contract). Sources absent from
    ``weights`` are dropped.

    Output: kept rows as (doc_id, source). At 100 TB: per-source counts
    partial-aggregate; the limits table is |sources| rows broadcast; the
    md5 rank is one per-source window (variable per-source limits cannot
    use a WindowGroupLimit heap — pre-filtering with an md5 THRESHOLD at
    ~1.05x the target rate before the exact rank bounds the sort input
    when a source is huge)."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    counts = docs.groupBy(source_col).agg(F.count("*").alias("ns"))
    wdf = local_frame(
        spark,
        [(s, float(x)) for s, x in weights.items()],
        f"{source_col} STRING, w DOUBLE",
    )
    j = counts.join(F.broadcast(wdf), source_col)
    tot = j.filter(F.col("w") > 0).agg(
        F.min(F.col("ns").cast("double") / F.col("w")).alias("tot")
    )
    lim = (
        j.crossJoin(F.broadcast(tot))
        .select(
            F.col(source_col).alias("source"),
            F.floor(F.col("w") * F.col("tot")).cast("long").alias("keep_n"),
        )
    )
    w_ = Window.partitionBy("source").orderBy(
        F.md5(F.concat_ws("|", F.lit(seed), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    ranked = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(source_col).alias("source"),
    ).withColumn("__rn", F.row_number().over(w_))
    return (
        ranked.join(F.broadcast(lim), "source")
        .filter(F.col("__rn") <= F.col("keep_n"))
        .select("doc_id", "source")
    )
