"""Exact heavy hitters with bounded shuffle — frequent-key mining at 100 TB.

The naive frequent-token plan (``text_vocabulary``'s shape) shuffles the
ENTIRE key space: at 10^12 documents the vocabulary is billions of
mostly-singleton tokens, so the exchange carries the whole long tail to
find the handful of keys that matter. This operator is the scale path:
a two-pass Misra-Gries plan whose shuffle is bounded by
O(partitions * capacity) regardless of vocabulary size, yet whose
result is EXACT — provably identical to the naive
``group by key having count(*) * den > N * num``.

Pass 1 (candidates): each input partition maintains ONE Misra-Gries
summary of capacity k inside ``mapInPandas`` — per-batch
``value_counts`` (vectorized, no per-row Python) merged into the
partition summary with the classic offset decrement (add the batch,
then subtract the (k+1)-th largest counter and drop the non-positive
ones; Misra & Gries 1982, batched-merge form per Agarwal et al.,
"Mergeable Summaries", PODS 2012). The summary undercounts any key by
at most n_p/(k+1), so every key with partition count > n_p/(k+1)
survives. Completeness of the union is pigeonhole: if a key's count
were <= n_p/(k+1) in EVERY partition it would total <= N/(k+1) < the
threshold (capacity is chosen as ceil(den/num) >= 1/phi, making
threshold = floor(N*num/den)+1 > N/(k+1)). So the candidate set is a
superset of the true heavy hitters no matter how the data is
partitioned.

Pass 2 (exact recount): broadcast the candidate set (<= partitions * k
keys) onto a fresh scan of the key stream, count exactly, and apply
the threshold with INTEGER arithmetic only — ``cnt * den > N * num``
(the CLAUDE.md cross-engine exactness invariant: no float ratio ever
computed, so Spark and DuckDB agree bit-for-bit). The candidate set
depends on partitioning; the final result does not.

Cost shape at 10^12 rows: two scans of the key stream (the same
deliberate rescan-vs-materialize trade PERF.md §4e prices for bm25 —
the stream is corpus-sized, the summaries are KB-sized), one
O(partitions * k) exchange for candidate dedup, one broadcast, and a
final aggregate whose exchange carries only candidate keys. Nothing
driver-side except Spark's own broadcast of the tiny candidate table.

Reference analog: the survey's frequent-value profiling family (A5
corpus counts / vocabulary); this is its bounded-shuffle production
form.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_MAX_CAPACITY = 2_000_000  # per-partition summary must stay executor-RAM-trivial


def mg_candidates(tokens: DataFrame, col: str, capacity: int) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries -> (col, part_n) rows.

    Each partition yields its surviving summary keys (part_n NULL) plus
    exactly one sentinel row (col NULL, part_n = partition's non-null
    key count) so the caller gets N from the same single scan. NULL
    keys are not counted and never become candidates (they cannot be a
    group in the naive plan's GROUP BY either — both engines drop them
    from the join in pass 2 anyway).
    """
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", col):
        raise ValueError(f"col must be a plain identifier, got {col!r}")
    capacity = int(capacity)
    if not 1 <= capacity <= _MAX_CAPACITY:
        raise ValueError(f"capacity must be in [1, {_MAX_CAPACITY}], got {capacity}")

    def mg(batches):
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            n_part += len(vals)
            for tok, c in vals.value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > capacity:
                # subtract the (capacity+1)-th largest counter from all;
                # keys left strictly positive number <= capacity
                m = sorted(counters.values())[len(counters) - capacity - 1]
                counters = {t: c - m for t, c in counters.items() if c > m}
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                "part_n": [None] * len(counters) + [n_part],
            }
        )

    return tokens.select(col).mapInPandas(mg, f"{col} string, part_n long")


def heavy_hitters(
    tokens: DataFrame,
    col: str = "token",
    phi: tuple[int, int] = (1, 500),
    capacity: int | None = None,
) -> DataFrame:
    """All keys whose count exceeds phi = num/den of the stream, exactly.

    ``tokens`` is any narrow plan producing a string key column
    (exploded unigrams, n-grams, synthesized composite keys, ...); it is
    scanned twice (see module docstring for why that beats
    materializing a corpus-sized intermediate). Returns
    (col, cnt, share_bp, n_total): exact count, share in basis points
    (integer div — never a float), and the stream size the threshold
    was computed against.

    ``capacity`` defaults to ceil(den/num), the smallest summary that
    makes the candidate set provably complete; raise it to also catch
    more sub-threshold near-hitters in pass 1 (the result is identical
    either way — only pass-2's join input grows).
    """
    num, den = int(phi[0]), int(phi[1])
    if num < 1 or den <= num:
        raise ValueError(f"phi must satisfy 0 < num/den < 1, got {num}/{den}")
    min_cap = -(-den // num)  # ceil(den/num) >= 1/phi
    cap = min_cap if capacity is None else int(capacity)
    if cap < min_cap:
        raise ValueError(
            f"capacity {cap} < ceil(den/num) = {min_cap}: the candidate set "
            "would no longer be provably complete (missed hitters possible)"
        )
    if cap > _MAX_CAPACITY:
        raise ValueError(f"capacity must be <= {_MAX_CAPACITY}, got {cap}")

    # one MG scan; the summary table is O(partitions * capacity) rows, so
    # pinning it locally is the cheap side of PERF.md §4e's trade
    summaries = mg_candidates(tokens, col, cap).localCheckpoint(eager=True)
    cands = summaries.filter(F.col(col).isNotNull()).select(col).distinct()
    total = summaries.agg(F.sum("part_n").cast("long").alias("n_total"))

    counts = (
        tokens.join(F.broadcast(cands), col)
        .groupBy(col)
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(den) > F.col("n_total") * F.lit(num))
        .select(
            col,
            "cnt",
            F.expr("(cnt * 10000) div n_total").alias("share_bp"),
            "n_total",
        )
    )


# Gate fixture: the documents table's vocabulary is only ~31 words, so the
# gate synthesizes a Zipf-ish key space the same way the KMV gate
# synthesizes hosts — every 4th document keeps the bare token (the head:
# ~31 keys carrying 25% of the mass), the rest get a doc_id-salted
# variant (the tail: ~31*251 keys of a few occurrences each). phi=1/500
# keeps the head and drops the tail, and the rarest real token ("dup")
# falls below threshold even in the head — the cut is exercised from
# both sides.
_HH_KEY_SPARK = (
    "case when doc_id % 4 = 0 then tok "
    "else concat(tok, '_', cast(doc_id % 251 as string)) end"
)
_HH_KEY_SQL = (
    "case when doc_id % 4 = 0 then tok "
    "else tok || '_' || cast(doc_id % 251 as varchar) end"
)

_HH_ORACLE = f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as tok from documents
    ),
    keyed as (select {_HH_KEY_SQL} as token from toks),
    tot as (select cast(count(token) as bigint) as n_total from keyed)
    select token, cast(count(*) as bigint) as cnt,
           (cast(count(*) as bigint) * 10000) // n_total as share_bp,
           n_total
    from keyed, tot
    group by token, n_total
    having cast(count(*) as bigint) * 500 > n_total * 1
    """


@op("text_heavy_hitters", _HH_ORACLE)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters gate: exact phi=1/500 frequent keys over a
    synthesized heavy-tailed key stream, via the bounded-shuffle
    Misra-Gries plan — and the oracle is the NAIVE group-by-having SQL,
    so the bit-exact match IS the proof that the two-pass plan loses
    nothing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tokens = toks.select(F.expr(_HH_KEY_SPARK).alias("token"))
    return heavy_hitters(tokens, "token", phi=(1, 500))
