"""Mergeable-sketch operators — distinct-count estimation at 100 TB.

KMV (k-minimum-values, a.k.a. bottom-k) distinct-count sketch: per
group, keep the k smallest *distinct* md5 hash values of the tracked
expression; the k-th minimum estimates the cardinality as
``(k-1) * H div h_k`` where ``H`` is the hash-space size. Unlike
Spark's built-in ``approx_count_distinct`` (HLL++, whose register
layout and rounding are engine-private and therefore un-oracle-able),
KMV is INTEGER-EXACT BY SPEC: the hash is md5 (identical in Spark and
DuckDB), the order statistic is a plain min-k over fixed-width hex
strings (lexicographic == numeric for fixed width), and the estimate is
one int64 multiply + truncating divide — bit-identical across engines
and shuffle orders (CLAUDE.md float invariant, applied to cardinality
estimation).

The hash is truncated to 12 hex chars (48 bits) so ``(k-1) * 2^48``
stays inside int64 for k up to ~32 000; at 48 bits the collision bias
is ~D^2/2^49 (negligible below ~10^7 distinct per group, and in any
case part of the deterministic spec both engines share). For a
production 100 TB run you would widen to 15 chars (60 bits) and do the
one division in DECIMAL; the gate keeps 48 bits so every operand is a
plain BIGINT in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op

_HEX_WIDTH = 12
_SPACE = 16**_HEX_WIDTH  # 2^48


def kmv_distinct(df: DataFrame, group: str, value: Column, k: int = 64) -> DataFrame:
    """Per-``group`` KMV distinct-count estimate of ``value`` ->
    (group, n_seen, kth_hash, distinct_est).

    ``n_seen < k`` means fewer than k distinct hashes exist, so the
    count is exact (= n_seen); otherwise the bottom-k estimator
    ``(k-1) * 2^48 div h_k`` applies (standard error ~ 1/sqrt(k-2)).

    Scale shape: stage 1 dedupes (group, hash) pairs with map-side
    partial aggregation (shuffle O(per-task distinct) — the accepted
    dedup_exact shape); stage 2 is the row_number-filter pattern Spark
    rewrites to WindowGroupLimit, whose *partial* mode caps each map
    task's contribution at k rows per group before the exchange, so the
    second shuffle is O(tasks * k) regardless of group cardinality. The
    final per-group aggregate reuses the window's partitioning — no
    third exchange. Never a collect, never a UDF.
    """
    k = int(k)
    if not 2 <= k <= 32000:
        raise ValueError(f"k must be in [2, 32000], got {k}")
    h = F.substring(F.md5(value.cast("string")), 1, _HEX_WIDTH)
    pairs = df.select(F.col(group), h.alias("h"))
    return _bottomk_estimate(pairs, group, k)


def _bottomk_estimate(pairs: DataFrame, group: str, k: int) -> DataFrame:
    """(group, h) hash pairs -> the bottom-k estimate row per group.
    Shared by the direct sketch and the merge path — they CANNOT
    diverge. ``hashes`` (the sorted bottom-k hex array) plus
    ``sketch_k`` (the k it was built at) are the sketch's mergeable
    state."""
    # NULL hashes (NULL input values, or NULL elements in an externally
    # reconstructed state array) contribute no distinct element — and
    # must never reach the order-by (Spark sorts NULLS FIRST asc,
    # DuckDB NULLS LAST: a null hash would corrupt rank 1 on one
    # engine only)
    deduped = pairs.filter(
        F.col("h").isNotNull()
    ).distinct()  # map-side partial, same as groupBy with no aggs
    w = Window.partitionBy(group).orderBy("h")
    ranked = deduped.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    # h is nonzero with probability 1 - 2^-48; greatest(1, .) keeps the
    # ANSI divide total without changing any realistic result
    est = F.when(
        F.col("n_seen") < k, F.col("n_seen")
    ).otherwise(
        F.expr(
            f"({k - 1} * {_SPACE}L) div greatest(1L, cast(conv(kth_hash, 16, 10) as bigint))"
        )
    )
    return (
        ranked.groupBy(group)
        .agg(
            F.max("rn").cast("long").alias("n_seen"),
            F.max("h").alias("kth_hash"),
            F.sort_array(F.collect_list("h")).alias("hashes"),
        )
        .select(
            group,
            "n_seen",
            "kth_hash",
            est.cast("long").alias("distinct_est"),
            "hashes",
            F.lit(k).cast("long").alias("sketch_k"),
        )
    )


def kmv_merge(sketches: DataFrame, group: str, k: int) -> DataFrame:
    """Merge KMV sketches (rows carrying the ``hashes`` bottom-k array
    and its ``sketch_k``, e.g. one sketch per day/partition/source)
    into one estimate per ``group`` — PROVABLY identical to sketching
    the union directly, PROVIDED merge-k <= every slice's sketch_k:
    then any hash in the union's global bottom-k is necessarily in its
    own slice's bottom-k, so min-k over the concatenated states loses
    nothing. Merging at k LARGER than a slice was built with would
    silently underestimate (ranks slice_k+1..k of the union are
    missing from that state), so each state row asserts
    ``k <= sketch_k`` inline — per-row, inside the existing scan, fail
    loud. This is the 100 TB property: sketch each snapshot/day once
    (O(k) state per group), then answer "distinct urls over any window"
    by merging states — never rescanning data. Same estimate pipeline
    as the direct path (shared `_bottomk_estimate`), so merged == direct
    is pinned by construction AND by test."""
    k = int(k)
    if not 2 <= k <= 32000:
        raise ValueError(f"k must be in [2, 32000], got {k}")
    checked = F.when(F.col("sketch_k") >= k, F.col("hashes")).otherwise(
        F.raise_error(
            F.format_string(
                f"kmv_merge: cannot merge at k={k} a sketch built with "
                "sketch_k=%s (missing ranks would silently "
                "underestimate); rebuild slices at k >= merge k",
                F.col("sketch_k").cast("string"),
            )
        ).cast("array<string>")
    )
    pairs = sketches.select(F.col(group), F.explode(checked).alias("h"))
    return _bottomk_estimate(pairs, group, k)


def kmv_overlap(sk_a: DataFrame, sk_b: DataFrame, group: str, k: int) -> DataFrame:
    """Per-``group`` distinct-OVERLAP estimate from two KMV sketches
    (outputs of ``kmv_distinct``/``kmv_merge`` carrying their
    ``hashes`` state) via inclusion-exclusion:

        |A ∩ B|  ≈  est(A) + est(B) − est(A ∪ B)

    with est(A ∪ B) from merging the two states — so the overlap of
    two crawl snapshots / sources is answered from O(k) state per
    group, never by joining the data. All int64 (the KMV estimate
    discipline); the subtraction can undershoot, so ``overlap_est``
    clamps at 0 (deterministically — part of the spec). Groups present
    on one side only get est=0 for the missing side and overlap 0.
    Output: (group, est_a, est_b, est_union, overlap_est)."""
    u = (
        kmv_merge(sk_a.unionByName(sk_b), group, k)
        .select(group, F.col("distinct_est").alias("est_union"))
    )
    a = sk_a.select(group, F.col("distinct_est").alias("est_a"))
    b = sk_b.select(group, F.col("distinct_est").alias("est_b"))
    zero = F.lit(0).cast("long")
    est_a = F.coalesce(F.col("est_a"), zero)
    est_b = F.coalesce(F.col("est_b"), zero)
    return (
        u.join(a, group, "left")
        .join(b, group, "left")
        .select(
            group,
            est_a.alias("est_a"),
            est_b.alias("est_b"),
            "est_union",
            F.greatest(zero, est_a + est_b - F.col("est_union")).alias(
                "overlap_est"
            ),
        )
    )


# ONE SQL rendering of the KMV spec (hash, bottom-k, estimate),
# composed by BOTH gate oracles — the direct and the merged gate must
# share it so a future estimator change (e.g. the documented
# widen-to-15-hex production variant) cannot make them diverge.
def _kmv_core_ctes(k: int = 64) -> str:
    return f"""
    with vals as (
      select printf('h%02d', cast(doc_id % 89 as int)) as host,
             substr(md5(cast(doc_id % 997 as varchar)), 1, {_HEX_WIDTH}) as h
      from documents
    ),
    pairs as (select host, h from vals group by host, h),
    ranked as (
      select host, h,
             row_number() over (partition by host order by h) as rn
      from pairs
    ),
    agg as (
      select host, cast(max(rn) as bigint) as n_seen, max(h) as kth_hash
      from ranked where rn <= {k} group by host
    )"""


def _kmv_est_sql(k: int = 64, prefix: str = "", alias: str = "distinct_est") -> str:
    return f"""cast(case when {prefix}n_seen < {k} then {prefix}n_seen
                else ({k - 1} * {_SPACE}) //
                     greatest(1, cast(('0x' || {prefix}kth_hash) as bigint))
                end as bigint) as {alias}"""


_KMV_ORACLE = f"""
    {_kmv_core_ctes()},
    exact as (
      select printf('h%02d', cast(doc_id % 89 as int)) as host,
             cast(count(distinct doc_id % 997) as bigint) as n_exact
      from documents group by host
    )
    select a.host, a.n_seen, a.kth_hash,
           {_kmv_est_sql(prefix="a.")},
           e.n_exact
    from agg a join exact e on e.host = a.host
    """


@op("sketch_kmv_distinct", _KMV_ORACLE)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch gate: estimate the number of distinct
    values (doc_id mod 997 — coprime with the 89-host split, so per-host
    cardinality is a known arithmetic fact) per synthesized host, with
    the exact count joined alongside so the estimator's accuracy is
    visible in the verified result itself. Bit-exact vs the oracle:
    identical md5 spec, identical integer estimate arithmetic (DuckDB
    ``//`` == Spark ``div`` on nonnegative int64)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hosted = docs.select(
        F.format_string("h%02d", (F.col("doc_id") % 89).cast("int")).alias("host"),
        (F.col("doc_id") % 997).alias("v"),
    )
    sk = kmv_distinct(hosted, "host", F.col("v"), k=64).drop("hashes", "sketch_k")
    exact = hosted.groupBy("host").agg(
        F.countDistinct("v").cast("long").alias("n_exact")
    )
    return sk.join(exact, "host")


# --- Bloom-filter seen-set sketch -----------------------------------
#
# The crawl-frontier primitive: "have we EVER fetched this url?" at
# 10^12 scale cannot be an anti-join against the full corpus on every
# increment — it needs an O(bits) mergeable state. Bloom state here is
# sparse (word_idx, word) rows over 63-bit words (bit 63 stays unused:
# DuckDB raises on 1<<63, and the sign bit buys nothing), k positions
# per key via Kirsch-Mitzenmacher double hashing from two independent
# 48-bit md5 slices — INTEGER-EXACT BY SPEC like KMV: same md5, same
# div/mod arithmetic in both engines, so the oracle reproduces the
# filter bit-for-bit, false positives included (a FP is not noise; it
# is the deterministic consequence of the shared spec).
#
# Scale shape: build is explode(k)+groupBy(word_idx) — map-side partial
# bit_or collapses each task to <= n_words rows before the exchange, so
# the shuffle is O(tasks * n_words) regardless of corpus size; states
# merge by the same bit_or (associative/commutative), so per-snapshot
# blooms union without rescans; probe joins the (tiny, broadcast) state
# to the increment's k positions and bool_ands the bit tests.

_BLOOM_WORD_BITS = 63


def _bloom_word_mask() -> list:
    """The pos -> (word_idx, mask) bit-packing projection — THE bit
    spec every oracle mirrors. Single definition shared by build,
    probe and the gate's per-slice build, so the three sites cannot
    silently diverge (div, not /: exact by construction, and the same
    operator the SQL uses)."""
    return [
        F.expr(f"pos div {_BLOOM_WORD_BITS}").alias("word_idx"),
        F.expr(f"shiftleft(1L, cast(pos % {_BLOOM_WORD_BITS} as int))").alias("mask"),
    ]


def _bloom_positions(value: Column, n_words: int, n_hashes: int) -> Column:
    """k bit positions for a key, as an array<long> — double hashing
    (h1 + i*h2) mod m over two independent 48-bit md5 slices."""
    m = n_words * _BLOOM_WORD_BITS
    s = value.cast("string")
    # conv(substr(md5, ...), 16, 10) here == '0x'||substr(md5, ...) in
    # the oracle: the spec is the two md5 slices, visibly identical
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(n_hashes) - 1)),
        lambda i: (
            F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
            + i.cast("long")
            * F.conv(F.substring(F.md5(s), 13, 12), 16, 10).cast("long")
        )
        % F.lit(m),
    )


def bloom_build(
    df: DataFrame, value: Column, n_words: int = 1024, n_hashes: int = 4
) -> DataFrame:
    """Keys -> sparse Bloom state (word_idx:long, word:long). Duplicate
    keys are harmless (bit_or is idempotent); NULL keys contribute
    nothing."""
    n_words, n_hashes = int(n_words), int(n_hashes)
    if not 1 <= n_words <= 10**7:
        raise ValueError(f"n_words must be in [1, 1e7], got {n_words}")
    if not 1 <= n_hashes <= 16:
        raise ValueError(f"n_hashes must be in [1, 16], got {n_hashes}")
    pos = F.explode(_bloom_positions(value, n_words, n_hashes)).alias("pos")
    return (
        df.filter(value.isNotNull())
        .select(pos)
        .select(*_bloom_word_mask())
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_merge(states: DataFrame) -> DataFrame:
    """Union sparse Bloom states (e.g. one per snapshot/source) into
    one — bit_or over word_idx, the O(bits) no-rescan merge."""
    return states.groupBy("word_idx").agg(F.bit_or("word").alias("word"))


def bloom_probe(
    state: DataFrame,
    probes: DataFrame,
    key: str,
    n_words: int = 1024,
    n_hashes: int = 4,
) -> DataFrame:
    """Probe keys against a Bloom state -> (key, maybe_seen). maybe_seen
    is false-negative-free by construction; false positives are part of
    the deterministic spec. State is broadcast (<= n_words rows)."""
    pos = F.explode(_bloom_positions(F.col(key), int(n_words), int(n_hashes))).alias(
        "pos"
    )
    pbits = probes.select(F.col(key), pos).select(key, *_bloom_word_mask())
    return (
        pbits.join(F.broadcast(state), "word_idx", "left")
        .groupBy(key)
        .agg(
            F.min(
                F.coalesce(
                    (F.col("word").bitwiseAND(F.col("mask")) == F.col("mask")),
                    F.lit(False),
                )
            ).alias("maybe_seen")
        )
    )


# The gate filter is DELIBERATELY undersized (16 words = 1008 bits for
# ~400 seen keys at sf0.01 -> ~80% fill): at production sizing the FP
# rate at gate SF would be ~0 and the false-positive path would never
# be exercised. Undersizing forces deterministic FPs that BOTH engines
# must reproduce bit-for-bit — the probe verdict's hard part IS the FP.
_BLOOM_WORDS = 16
_BLOOM_K = 4
_BLOOM_M = _BLOOM_WORDS * _BLOOM_WORD_BITS


def _bloom_bits_sql(src: str) -> str:
    """Shared hash->bit-position SQL: h1/h2 are the SAME two md5 slices
    and the SAME double-hash arithmetic as _bloom_positions."""
    return f"""
      select key,
             ((h1 + i * h2) % {_BLOOM_M}) // {_BLOOM_WORD_BITS} as word_idx,
             1::bigint << cast((h1 + i * h2) % {_BLOOM_M} % {_BLOOM_WORD_BITS} as int) as mask
      from (
        select key,
               ('0x' || substr(md5(cast(key as varchar)), 1, 12))::bigint as h1,
               ('0x' || substr(md5(cast(key as varchar)), 13, 12))::bigint as h2
        from {src}
      ), unnest(range(0, {_BLOOM_K})) u(i)"""


_BLOOM_ORACLE = f"""
with seen as (
  select distinct doc_id * 37 as key from documents where doc_id % 5 != 0
),
sbits as ({_bloom_bits_sql("seen")}),
state as (select word_idx, bit_or(mask) as word from sbits group by 1),
probes as (
  select distinct doc_id * 37 as key from documents where doc_id % 3 = 0
),
pbits as ({_bloom_bits_sql("probes")}),
verdict as (
  select p.key,
         min(coalesce((s.word & p.mask) = p.mask, false)) as maybe_seen
  from pbits p left join state s using (word_idx)
  group by p.key
)
select v.key, v.maybe_seen, (sn.key is not null) as truly_seen
from verdict v left join seen sn on sn.key = v.key
"""


@op("sketch_bloom_seen", _BLOOM_ORACLE)
def sketch_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom seen-set gate: slice the corpus's seen keys by source,
    build one sparse Bloom state per slice, bit_or-MERGE the states,
    then probe an increment whose keys partially overlap — per probe
    key, (maybe_seen, truly_seen). The oracle builds the filter
    DIRECTLY from the whole corpus, so the bit-exact match proves both
    the filter spec AND that slice-merge loses nothing; rows where
    maybe_seen and not truly_seen are the filter's deterministic false
    positives, reproduced identically by both engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select((F.col("doc_id") * 37).alias("key"), "source")
        .distinct()
    )
    # per-source slice states built in ONE pass by grouping on
    # (source, word_idx) — identical bit arithmetic to bloom_build,
    # plus one tiny exchange for the merge
    pos = F.explode(_bloom_positions(F.col("key"), _BLOOM_WORDS, _BLOOM_K)).alias(
        "pos"
    )
    per_slice = (
        seen.select("source", pos)
        .select("source", *_bloom_word_mask())
        .groupBy("source", "word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )
    state = bloom_merge(per_slice.select("word_idx", "word"))
    probes = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") * 37).alias("key"))
        .distinct()
    )
    verdict = bloom_probe(state, probes, "key", _BLOOM_WORDS, _BLOOM_K)
    truly = seen.select("key").distinct().withColumn("t", F.lit(True))
    return verdict.join(truly, "key", "left").select(
        "key", "maybe_seen", F.coalesce(F.col("t"), F.lit(False)).alias("truly_seen")
    )


def bloom_antijoin_new(
    new_keys: DataFrame,
    seen_keys: DataFrame,
    key: str,
    n_words: int = 1024,
    n_hashes: int = 4,
) -> DataFrame:
    """Keys of ``new_keys`` that do NOT appear in ``seen_keys`` —
    EXACTLY (bit-identical to a plain left_anti join), but routed
    through the Bloom filter first: keys the filter rules out
    (maybe_seen=false) are provably new (no false negatives) and skip
    the exact check entirely; only the maybe_seen survivors — true
    dups plus the filter's FP-rate sliver — reach the exact anti-join.

    The 100 TB shape for incremental crawl-frontier dedup: the seen
    corpus is rescanned once into O(bits) of broadcastable state, and
    the expensive shuffle anti-join against the full corpus runs over
    (dup_rate + fp_rate) of the increment instead of all of it. Callers
    keep ``new_keys`` pre-distincted on ``key``."""
    state = bloom_build(seen_keys.select(F.col(key)), F.col(key), n_words, n_hashes)
    verdict = bloom_probe(state, new_keys, key, n_words, n_hashes)
    definitely_new = verdict.filter(~F.col("maybe_seen")).select(key)
    suspects = verdict.filter(F.col("maybe_seen")).select(key)
    confirmed_new = suspects.join(seen_keys.select(key), key, "left_anti")
    return definitely_new.unionByName(confirmed_new)


# The prefilter's whole claim is parameter-INdependence: the oracle is
# the plain anti-join, with no bloom arithmetic at all — agreement
# proves the two-path split loses and invents nothing (the
# skew_salted_host_stats naive-form-oracle pattern).
_BLOOM_ANTIJOIN_ORACLE = """
with seen as (
  select distinct doc_id * 37 as key from documents where doc_id % 5 != 0
),
probes as (
  select distinct doc_id * 37 as key from documents where doc_id % 3 = 0
)
select key from probes
where key not in (select key from seen)
"""


@op("dedup_bloom_antijoin", _BLOOM_ANTIJOIN_ORACLE)
def dedup_bloom_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered frontier dedup gate: same seen/increment split
    as sketch_bloom_seen, same deliberately-undersized filter (so the
    exact path really has FP survivors to reject), output = the truly
    new keys. The oracle is the NAIVE anti-join with no bloom in it —
    the bit-exact match proves the prefilter is a pure optimization."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select((F.col("doc_id") * 37).alias("key"))
        .distinct()
    )
    probes = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select((F.col("doc_id") * 37).alias("key"))
        .distinct()
    )
    return bloom_antijoin_new(probes, seen, "key", _BLOOM_WORDS, _BLOOM_K)


# --- Count-Min frequency sketch --------------------------------------
#
# Completes the mergeable-sketch family: KMV answers "how many
# distinct", Bloom answers "ever seen", Count-Min answers "about how
# often" — the per-token / per-host frequency primitive whose exact
# answer at 10^12 rows is a full groupBy over the corpus. State is
# sparse (row_idx, col_idx, cnt) over a depth x width grid; per key,
# row d hashes to column (h1 + d*h2) mod width — the SAME two 48-bit
# md5 slices and double-hash arithmetic as the Bloom filter, so the
# whole family shares one INTEGER-EXACT hash spec. Estimates are
# min-over-rows of integer sums: >= the true count always (collisions
# only ADD), and bit-identical across engines — an overestimate is the
# deterministic consequence of the shared spec, not noise.
#
# Scale shape: build is explode(depth)+groupBy(row,col) — map-side
# partial SUM collapses each task to <= depth*width rows before the
# exchange, so the shuffle is O(tasks * depth * width) regardless of
# corpus size; states merge by the same sum (associative/commutative),
# so per-snapshot sketches union without rescans; query broadcasts the
# <= depth*width-row state onto the probes' positions and takes the
# row-minimum.

_CMS_WIDTH = 16
_CMS_DEPTH = 2


def _cms_cells(value: Column, width: int, depth: int) -> Column:
    """Per key: array of (row_idx, col_idx) structs — row d's column is
    Kirsch-Mitzenmacher (h1 + d*h2) mod width over two independent
    48-bit md5 slices (the Bloom family hash spec)."""
    s = value.cast("string")
    h1 = F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(s), 13, 12), 16, 10).cast("long")
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(depth) - 1)),
        lambda d: F.struct(
            d.cast("int").alias("row_idx"),
            ((h1 + d.cast("long") * h2) % F.lit(int(width))).alias("col_idx"),
        ),
    )


def cms_build(
    df: DataFrame,
    value: Column,
    weight: Column | None = None,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Keys -> sparse Count-Min state (row_idx:int, col_idx:long,
    cnt:long). ``weight`` defaults to 1 per row (plain frequency);
    NULL keys contribute nothing."""
    width, depth = int(width), int(depth)
    if not 1 <= width <= 10**7:
        raise ValueError(f"width must be in [1, 1e7], got {width}")
    if not 1 <= depth <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    w = F.lit(1).cast("long") if weight is None else weight.cast("long")
    cell = F.explode(_cms_cells(value, width, depth)).alias("cell")
    return (
        df.filter(value.isNotNull())
        .select(cell, w.alias("w"))
        .groupBy(F.col("cell.row_idx").alias("row_idx"), F.col("cell.col_idx").alias("col_idx"))
        .agg(F.sum("w").alias("cnt"))
    )


def cms_merge(states: DataFrame) -> DataFrame:
    """Union sparse Count-Min states (one per snapshot/source) into
    one — sum over (row_idx, col_idx), the O(grid) no-rescan merge."""
    return states.groupBy("row_idx", "col_idx").agg(F.sum("cnt").alias("cnt"))


def cms_query(
    state: DataFrame,
    probes: DataFrame,
    key: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Probe keys against a Count-Min state -> (key, est_cnt). est_cnt
    >= the true count always (collisions only add); the state (<=
    depth*width rows) is broadcast."""
    cell = F.explode(_cms_cells(F.col(key), int(width), int(depth))).alias("cell")
    pcells = probes.select(F.col(key), cell).select(
        key, F.col("cell.row_idx").alias("row_idx"), F.col("cell.col_idx").alias("col_idx")
    )
    return (
        pcells.join(F.broadcast(state), ["row_idx", "col_idx"], "left")
        .groupBy(key)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est_cnt"))
    )


def _cms_cells_sql(src: str, key_expr: str = "token") -> str:
    """Shared hash->cell SQL: the SAME md5 slices and double-hash
    arithmetic as _cms_cells."""
    return f"""
      select {key_expr} as token, w,
             cast(d as int) as row_idx,
             (h1 + d * h2) % {_CMS_WIDTH} as col_idx
      from (
        select {key_expr}, w,
               ('0x' || substr(md5({key_expr}), 1, 12))::bigint as h1,
               ('0x' || substr(md5({key_expr}), 13, 12))::bigint as h2
        from {src}
      ), unnest(range(0, {_CMS_DEPTH})) u(d)"""


_CMS_ORACLE = f"""
with toks as (
  select source, unnest(string_split(text, ' ')) as token, 1::bigint as w
  from documents
),
cells as ({_cms_cells_sql("toks")}),
state as (
  -- cast: sum(BIGINT) -> HUGEINT propagates into est_cnt, and the
  -- driver's pandas bridge renders HUGEINT as float64 (hash mismatch;
  -- caught by the local dtype-parity guard)
  select row_idx, col_idx, cast(sum(w) as bigint) as cnt from cells group by 1, 2
),
probes as (select distinct token, 1::bigint as w from toks),
pcells as ({_cms_cells_sql("probes")}),
est as (
  select p.token, min(coalesce(s.cnt, 0)) as est_cnt
  from pcells p left join state s using (row_idx, col_idx)
  group by p.token
),
truth as (select token, count(*)::bigint as true_cnt from toks group by 1)
select e.token, e.est_cnt, t.true_cnt
from est e join truth t using (token)
"""


@op("sketch_cms_counts", _CMS_ORACLE)
def sketch_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency gate: tokenize the corpus (the
    string_split-on-space spec the text ops share), build one sparse
    CMS per source slice in a single pass, sum-MERGE the slices, probe
    every distinct token, and join the exact count alongside — per
    token, (est_cnt, true_cnt). The oracle builds the grid DIRECTLY
    from the whole corpus, so the bit-exact match proves the sketch
    spec AND lossless merge; the grid is DELIBERATELY undersized
    (16x2 for the ~31-token synthetic vocabulary) so collision overestimates
    (est_cnt > true_cnt) are live and reproduced identically by both
    engines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    # per-source slice states in ONE pass by grouping on
    # (source, row, col) — identical cell arithmetic to cms_build
    cell = F.explode(_cms_cells(F.col("token"), _CMS_WIDTH, _CMS_DEPTH)).alias("cell")
    per_slice = (
        toks.select("source", cell)
        .select(
            "source",
            F.col("cell.row_idx").alias("row_idx"),
            F.col("cell.col_idx").alias("col_idx"),
        )
        .groupBy("source", "row_idx", "col_idx")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    state = cms_merge(per_slice.select("row_idx", "col_idx", "cnt"))
    probes = toks.select("token").distinct()
    est = cms_query(state, probes, "token", _CMS_WIDTH, _CMS_DEPTH)
    truth = toks.groupBy("token").agg(F.count("*").cast("long").alias("true_cnt"))
    return est.join(truth, "token")


_KMV_MERGED_ORACLE = f"""
    {_kmv_core_ctes()}
    select host, n_seen, kth_hash,
           {_kmv_est_sql()}
    from agg
    """


@op("sketch_kmv_merged", _KMV_MERGED_ORACLE)
def sketch_kmv_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability gate: sketch each (host, source) SLICE separately,
    then kmv_merge the slice states per host — and the oracle is the
    DIRECT whole-corpus KMV SQL, so the bit-exact match IS the proof
    that merging bottom-k states over any partitioning loses nothing
    (the property that lets a 10^12-row table answer distinct-count
    windows from O(k)-sized per-snapshot states, never a rescan)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sliced = docs.select(
        F.format_string("h%02d", (F.col("doc_id") % 89).cast("int")).alias("host"),
        F.col("source"),
        (F.col("doc_id") % 997).alias("v"),
    ).withColumn("slice", F.concat_ws("|", "host", "source"))
    per_slice = kmv_distinct(sliced, "slice", F.col("v"), k=64)
    states = per_slice.select(
        F.split(F.col("slice"), "\\|").getItem(0).alias("host"),
        "hashes",
        "sketch_k",
    )
    return kmv_merge(states, "host", k=64).drop("hashes", "sketch_k")


# Overlap gate: k=32 over 3 synthetic hosts so the ESTIMATOR branch is
# live (per host ~100 distinct values >> k); exact overlap joined
# alongside so accuracy is visible, not just asserted.
_OVL_K = 32


def _kmv_overlap_side_ctes(tag: str, filt: str) -> str:
    """One side's bottom-k pipeline — the SAME hash/rank/agg spec as
    _kmv_core_ctes, parameterized by the side's membership filter."""
    return f"""
    {tag}_vals as (
      select printf('h%d', cast(doc_id % 3 as int)) as host,
             substr(md5(cast(doc_id % 211 as varchar)), 1, {_HEX_WIDTH}) as h
      from documents where {filt}
    ),
    {tag}_pairs as (select host, h from {tag}_vals group by host, h),
    {tag}_ranked as (
      select host, h,
             row_number() over (partition by host order by h) as rn
      from {tag}_pairs
    ),
    {tag}_agg as (
      select host, cast(max(rn) as bigint) as n_seen, max(h) as kth_hash
      from {tag}_ranked where rn <= {_OVL_K} group by host
    )"""


_KMV_OVERLAP_ORACLE = f"""
    with {_kmv_overlap_side_ctes("a", "doc_id % 4 != 0").lstrip()},
    {_kmv_overlap_side_ctes("b", "doc_id % 5 != 0").lstrip()},
    u_pairs as (
      select host, h from a_ranked where rn <= {_OVL_K}
      union
      select host, h from b_ranked where rn <= {_OVL_K}
    ),
    u_ranked as (
      select host, h,
             row_number() over (partition by host order by h) as rn
      from u_pairs
    ),
    u_agg as (
      select host, cast(max(rn) as bigint) as n_seen, max(h) as kth_hash
      from u_ranked where rn <= {_OVL_K} group by host
    ),
    ests as (
      select u.host,
             coalesce(ea.est_a, 0) as est_a,
             coalesce(eb.est_b, 0) as est_b,
             eu.est_union
      from (select host from u_agg) u
      left join (select host, {_kmv_est_sql(_OVL_K, alias="est_a")} from a_agg) ea using (host)
      left join (select host, {_kmv_est_sql(_OVL_K, alias="est_b")} from b_agg) eb using (host)
      join (select host, {_kmv_est_sql(_OVL_K, alias="est_union")} from u_agg) eu using (host)
    ),
    a_set as (
      select distinct printf('h%d', cast(doc_id % 3 as int)) as host,
             doc_id % 211 as v
      from documents where doc_id % 4 != 0
    ),
    b_set as (
      select distinct printf('h%d', cast(doc_id % 3 as int)) as host,
             doc_id % 211 as v
      from documents where doc_id % 5 != 0
    ),
    exact as (
      select host, cast(count(*) as bigint) as overlap_exact
      from (select * from a_set intersect select * from b_set)
      group by host
    )
    select e.host, e.est_a, e.est_b, e.est_union,
           greatest(0, e.est_a + e.est_b - e.est_union) as overlap_est,
           coalesce(x.overlap_exact, 0) as overlap_exact
    from ests e left join exact x using (host)
"""


@op("sketch_kmv_overlap", _KMV_OVERLAP_ORACLE)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV overlap gate: two overlapping crawl slices (membership by
    doc_id residue), sketched independently per host at k=32, overlap
    estimated by inclusion-exclusion over the states — NO join over the
    data — with the exact distinct overlap joined alongside. The
    bit-exact oracle match proves the sketch arithmetic AND the merge
    path under the estimator branch (per host ~100 distinct >> k)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.format_string("h%d", (F.col("doc_id") % 3).cast("int")).alias("host")
    v = (F.col("doc_id") % 211).alias("v")
    a = docs.filter(F.col("doc_id") % 4 != 0).select(host, v)
    b = docs.filter(F.col("doc_id") % 5 != 0).select(host, v)
    ska = kmv_distinct(a, "host", F.col("v"), k=_OVL_K)
    skb = kmv_distinct(b, "host", F.col("v"), k=_OVL_K)
    out = kmv_overlap(ska, skb, "host", _OVL_K)
    exact = (
        a.distinct()
        .join(b.distinct(), ["host", "v"])
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("overlap_exact"))
    )
    return out.join(exact, "host", "left").na.fill({"overlap_exact": 0})
