"""Deduplication suite over the ``documents`` table.

Training-data-pipeline operators (first-class per the build brief):
exact hash dedup, n-gram Jaccard, MinHash+LSH, SimHash. All are pure
built-in-function DataFrame plans (no UDFs): hashing via md5, shingling
via sequence/transform/explode — so every one has an exact DuckDB oracle
and whole-stage codegen end-to-end.

Scale notes: shingle explosion is the dominant cost — it is narrow
(flatMap-shaped), the only shuffles are the groupBy(doc) signature
aggregation and the bucket self-join, which is banded so the join key
(band, bucket) is selective. At 100 TB you'd salt mega-buckets (boiler-
plate shingles) before the pair join; here bucket sizes are bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op
from ocr_application_spark.session import bounded_cache, release_local_checkpoint


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- exact dedup -------------------------------------------------------------
@op(
    "dedup_exact",
    """
    select md5(text) as fingerprint,
           min(doc_id) as keeper_doc_id,
           count(*) as n_copies
    from documents
    group by md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep lowest doc_id.
    Map-side partial agg makes the shuffle O(distinct fingerprints)."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# --- incremental recrawl ingest against a persisted fingerprint index ---------
def fingerprint_index_ingest(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    *,
    op_label: str = "fingerprint-ingest",
) -> tuple[DataFrame, int]:
    """Dedupe a crawl increment (``doc_id``, ``text`` columns) against
    the PERSISTED corpus fingerprint index (a snapshot table of distinct
    ``md5(text)`` fingerprints), append only the genuinely novel
    fingerprints as one snapshot commit, and return
    ``(verdicts, committed_version)`` where verdicts is

      (doc_id, fingerprint, verdict) with verdict one of
        'known'            — fingerprint already in the index (recrawl dup)
        'novel'            — first occurrence corpus-wide; this doc is the
                             increment's keeper (min doc_id) for the fp
        'dup_in_increment' — same fp as a lower doc_id in this increment

    The recrawl-scale shape (the point of the operator): the corpus is
    NEVER re-deduped — each ingest is O(increment) new work. The
    increment folds to its distinct fingerprints map-side before
    touching the index, so the increment shuffle is O(distinct inc fps);
    the index side costs one hash exchange per ingest in path-based
    parquet (a production deployment keeps the index bucket-stored on
    fingerprint — Iceberg ``bucket(N, fingerprint)`` or Spark
    ``bucketBy`` — so only the increment shuffles). The index grows by
    novel fingerprints only: O(distinct corpus) rows, not O(crawl).

    The verdict plan is pinned to the PRE-commit index version, so
    re-materializing it after the commit cannot flip rows to 'known'.
    The verdict rule is REPLAY-STABLE (what makes the streaming
    front-end ``run_stream_ingest`` exactly-once): each fingerprint's
    corpus representative is ``coalesce(index keeper, increment
    keeper)`` — a doc the index already records as ITS OWN keeper stays
    'novel' when the same batch is re-ingested after a crash, instead
    of flipping to 'known' and being dropped downstream; the index
    itself appends zero rows on replay (only fingerprints absent from
    the index are committed).

    Reference analog: recrawl ingest into the pages store, SURVEY.md §2
    S7 + the exact-dedup family above.
    """
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        snapshot_versions,
    )

    # coalesce: a null text must still produce a (non-null) fingerprint —
    # md5(NULL) is NULL, and null join keys would both drop the doc from
    # the verdict output (silent loss in the streaming/curation callers)
    # and append a garbage null-fp row to the index on every batch.
    # bounded_cache: fps feeds the novel commit AND the verdict join
    # (two actions) — without it the increment is re-scanned and
    # re-hashed three times per ingest. Slot-bounded: the NEXT ingest
    # call frees this call's blocks, so a per-epoch streaming caller
    # holds one live cache, not one per epoch; a handle consumed late
    # (or a concurrent ingest) degrades to a recompute, never a crash.
    fps = bounded_cache(
        docs.select(
            "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint")
        ),
        "fingerprint_index_ingest",
    )
    keeper = fps.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper_doc_id"))
    versions = snapshot_versions(index_path)
    if versions:
        idx = read_snapshot(spark, index_path, version=versions[-1]).select(
            "fingerprint", F.col("keeper_doc_id").alias("_idx_keeper")
        )
        marked = keeper.join(idx, "fingerprint", "left")
    else:  # bootstrap: empty index, every keeper is novel
        marked = keeper.withColumn("_idx_keeper", F.lit(None).cast("long"))
    # marked feeds BOTH the novel commit below and the returned verdict
    # frame — without the cache the keeper aggregation + index join
    # recompute when the caller materializes the verdicts
    marked = bounded_cache(marked, "fingerprint_index_marked")
    novel = marked.filter(F.col("_idx_keeper").isNull()).select(
        "fingerprint", "keeper_doc_id"
    )
    version = commit(novel, index_path, op_label=op_label)
    rep = F.coalesce(F.col("_idx_keeper"), F.col("keeper_doc_id"))
    verdicts = fps.join(marked, "fingerprint").select(
        "doc_id",
        "fingerprint",
        F.when(rep == F.col("doc_id"), F.lit("novel"))
        .when(rep == F.col("keeper_doc_id"), F.lit("dup_in_increment"))
        .otherwise(F.lit("known"))
        .alias("verdict"),
    )
    return verdicts, version


def _retained_index_ingest(
    spark: SparkSession,
    index_path: str,
    ids: DataFrame,
    rows: DataFrame,
    match,
    labels: tuple[str, str],
    slots: tuple[str, str],
    op_label: str,
) -> tuple[DataFrame, int]:
    """THE replay-stable verdict rule of the near-dup recrawl ingests
    (minhash, winnow, embedding): dedupe an increment against a
    PERSISTED snapshot index holding the rows of every retained corpus
    document, append the rows of the documents that survive, and return
    ``(verdicts, committed_version)`` with verdicts ``(<id>, verdict)``
    over the increment ``ids`` (one id column).

    ``rows`` are the increment's index rows (its id column plus the
    family's evidence columns, in index column order); ``match(x, y,
    rel)`` returns the distinct ids of x rows with near-dup evidence
    against a y row whose id satisfies ``rel(x_id, y_id)``. ``labels``
    names the in-increment and corpus verdicts; ``slots`` are the
    ``bounded_cache`` slots of the rows and of the verdicts (one live
    cache each per session, freed by the next call: the rows feed the
    index join, the in-increment self-join and the append; the verdicts
    feed the commit and the caller).

    Each ingest is O(increment) new work; the corpus is never re-scored.
    The verdict plan is pinned to the PRE-commit index version, so
    re-materializing it after the commit cannot flip a row. Precedence:
    (1) an id the index already retains stays 'novel'; (2) evidence
    against a LOWER id in the increment is ``labels[0]``; (3) evidence
    against ANOTHER id's index rows is ``labels[1]``; otherwise 'novel'
    (incl. documents without rows). Rule 1 keeps a crash-replayed
    epoch's retained docs retained; rule 2 before rule 3 keeps a
    replayed in-increment dup's label stable (its keeper's rows are in
    the index on replay); and rule 3 NOT excluding in-batch partners
    means a redelivered retained doc still counts as corpus evidence —
    a new lower-id near-dup of it is ``labels[1]``, never a second
    'novel'. Only novel ids absent from the index are appended, so a
    replay appends zero rows (what makes ``run_stream_ingest``
    exactly-once)."""
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        snapshot_versions,
    )

    key = ids.columns[0]
    rows = bounded_cache(rows, slots[0])
    versions = snapshot_versions(index_path)
    if versions:
        idx = read_snapshot(spark, index_path, version=versions[-1])
        idx_present = idx.select(key).distinct()
        self_retained = ids.join(idx_present, key, "left_semi")
        known = match(rows, idx, lambda x, y: y != x)
    else:  # bootstrap: empty index
        known = idx_present = self_retained = ids.filter(F.lit(False))
    incdup = match(rows, rows, lambda x, y: y < x)
    verdicts = (
        ids.join(self_retained.withColumn("_s", F.lit(True)), key, "left")
        .join(incdup.withColumn("_d", F.lit(True)), key, "left")
        .join(known.withColumn("_k", F.lit(True)), key, "left")
        .select(
            key,
            F.when(F.col("_s"), F.lit("novel"))
            .when(F.col("_d"), F.lit(labels[0]))
            .when(F.col("_k"), F.lit(labels[1]))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
    )
    verdicts = bounded_cache(verdicts, slots[1])
    novel_rows = rows.join(
        verdicts.filter(F.col("verdict") == "novel"), key, "left_semi"
    ).join(idx_present, key, "left_anti")  # replay: already indexed
    version = commit(novel_rows, index_path, op_label=op_label)
    return verdicts, version


def _band_match(x: DataFrame, y: DataFrame, rel) -> DataFrame:
    """``match`` for the minhash ingest: x docs sharing one band bucket
    (band_id, sig_a, sig_b) with a y doc."""
    on = [F.col(f"x.{c}") == F.col(f"y.{c}") for c in ("band_id", "sig_a", "sig_b")]
    return (
        x.alias("x")
        .join(y.alias("y"), [*on, rel(F.col("x.doc_id"), F.col("y.doc_id"))])
        .select(F.col("x.doc_id").alias("doc_id"))
        .distinct()
    )


def minhash_index_ingest(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    *,
    op_label: str = "minhash-ingest",
) -> tuple[DataFrame, int]:
    """NEAR-dup recrawl ingest of ``docs`` (``doc_id``, ``text``)
    against a persisted LSH index of (doc_id, band_id, sig_a, sig_b)
    MinHash band buckets, under the shared rule of
    ``_retained_index_ingest``. Evidence is one colliding band bucket;
    verdicts are 'known_neardup', 'neardup_in_increment' or 'novel'
    (incl. docs too short to shingle). Approximate BY DESIGN, like LSH
    itself: the oracle pins the banding, the collision sets and the
    precedence as a function of the bytes."""
    d = docs.select("doc_id", "text")
    return _retained_index_ingest(
        spark,
        index_path,
        d.select("doc_id").distinct(),
        _band_buckets(d),
        _band_match,
        ("neardup_in_increment", "known_neardup"),
        ("minhash_index_ingest", "minhash_index_verdicts"),
        op_label,
    )


# --- shared shingling (word 3-grams) ------------------------------------------
def _shingle_arr(d: DataFrame) -> DataFrame:
    """doc_id, sh: array of distinct word-3-grams, built as
    zip_with(slice, slice, slice) so the token array is evaluated once per
    row. (The obvious sequence+transform+element_at(toks, i) formulation
    re-evaluates the outer `split` capture per element under interpreted
    higher-order-function eval — O(words²) per doc, measured 84x slower.)
    Narrow — no shuffle."""
    toks = F.split(F.col("text"), " ")
    # greatest(.., 0): rows with <3 tokens are filtered below, but
    # InferFiltersFromGenerate clones this expression into an inferred
    # size(..)>0 predicate that can evaluate BEFORE the >=3 guard (ANSI
    # slice throws on negative length) — keep the expression total
    n = F.greatest(F.size(toks) - 2, F.lit(0))
    sh = F.zip_with(
        F.zip_with(F.slice(toks, 1, n), F.slice(toks, 2, n), lambda x, y: F.concat_ws(" ", x, y)),
        F.slice(toks, 3, n),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return d.filter(F.size(toks) >= 3).select(
        "doc_id", F.array_distinct(sh).alias("sh")
    )


def _shingles(d: DataFrame) -> DataFrame:
    """doc_id, shingle (distinct word-3-grams), one row per shingle."""
    return _shingle_arr(d).select("doc_id", F.explode("sh").alias("shingle"))


def _shingles_sql(src: str) -> str:
    """DuckDB shingle relation (doc_id, shingle) over any (doc_id, text)
    source — the oracle twin of ``_shingles``."""
    return f"""
  select doc_id, unnest(list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                || ' ' || string_split(text, ' ')[i+2]))) as shingle
  from {src}
  where len(string_split(text, ' ')) >= 3
"""


_SHINGLES_CTE = f"""
shingles as ({_shingles_sql("documents")})
"""


# --- n-gram Jaccard near-dup ----------------------------------------------------
# 60-bit shingle hash (md5 prefix) — identical in Spark and DuckDB, so the
# oracle match is exact (same hash ⇒ same collisions on both sides).
_H60_SQL_DUCK = "cast(cast(concat('0x', substr(md5(shingle), 1, 15)) as ubigint) as bigint)"


def _h60(col) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# document-frequency cap on posting lists: a shingle shared by >64 docs is
# boilerplate (no dedup signal) and its pair fan-out is quadratic — the
# skew guard that keeps the pair explosion bounded per posting at corpus
# scale. Applied identically in both engines (exact parity).
_MAX_POSTING = 64

@op(
    "dedup_ngram_jaccard",
    f"""
    with {_SHINGLES_CTE},
    hsh as (select doc_id, {_H60_SQL_DUCK} as h from shingles),
    sizes as (select doc_id, count(*) as n_sh from hsh group by doc_id),
    capped as (
      select doc_id, h from hsh
      where h in (select h from hsh group by h
                  having count(*) between 2 and {_MAX_POSTING})
    ),
    inter as (
      select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
      from capped a join capped b
        on a.h = b.h and a.doc_id < b.doc_id
      group by a.doc_id, b.doc_id
    )
    select doc_a, doc_b,
           cast(n_inter as double) / (sa.n_sh + sb.n_sh - n_inter) as jaccard
    from inter
      join sizes sa on sa.doc_id = doc_a
      join sizes sb on sb.doc_id = doc_b
    where cast(n_inter as double) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: |A∩B| / (|A|+|B|-|A∩B|) >= 0.2 via the
    inverted-index pair-generation plan: shingles are hashed to 60-bit ints
    (shuffle carries bigints, not 3-word strings), grouped by hash into a
    posting list, and each list emits its sorted doc pairs directly.
    Versus a shingle self-join this drops one full shuffle and the
    sort-merge of the two shingle tables — at corpus scale the posting-list
    groupBy is the only wide exchange over raw shingle volume. Mega-postings
    (boilerplate shingles) are the skew hazard at 100 TB: the _MAX_POSTING
    document-frequency cap drops them before pair emission (such shingles
    carry no dedup signal; denominators n_sh stay uncapped)."""
    inter = _pair_intersections(_shingle_arr(_docs(spark, sf_dir)))
    j = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.filter(j >= 0.2).select("doc_a", "doc_b", j.alias("jaccard"))


def _pair_intersections(arr: DataFrame) -> DataFrame:
    """(doc_a, n_a, doc_b, n_b, n_inter) over a (doc_id, sh) shingle-array
    relation — the shared pair-generation core of the Jaccard and
    containment ops. Carries n_sh THROUGH the posting list
    (struct<doc_id, n_sh>) so no separate `sizes` relation exists — a
    sizes side-plan would recompute the shingle transform once per join
    side (projection collapse inlines narrow plans; only exchanges get
    reused)."""
    sh = arr.select(
        "doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    ).select(_h60("shingle").alias("h"), F.struct("doc_id", "n_sh").alias("d"))
    posting = (
        sh.groupBy("h")
        .agg(F.array_sort(F.collect_list("d")).alias("docs"))
        .filter(F.size("docs").between(2, _MAX_POSTING))
    )
    ds = F.col("docs")
    pair_structs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    x["n_sh"].alias("n_a"),
                    y["doc_id"].alias("doc_b"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.n_a", "p.doc_b", "p.n_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")  # n_a/n_b functionally dependent
        .agg(F.count("*").alias("n_inter"))
    )


# --- containment near-dup (asymmetric Jaccard) --------------------------------
# Jaccard misses SUBSET duplication: a 50-token document quoted whole
# inside a 5000-token page scores |A|/(|A|+|B|-|A|) ≈ 0.01 and survives
# dedup, yet the small doc adds zero training signal (Broder 1997 calls
# this containment; FineWeb/Dolma hit it on syndicated snippets and
# quote farms). Containment(A in B) = |A∩B| / |A| flags it at ~1.0.
# Same inverted-index posting plan and _MAX_POSTING skew cap as
# dedup_ngram_jaccard — the pair intersection already carries both set
# sizes through the posting struct, so both directed ratios fall out of
# the SAME aggregation; no extra shuffle vs the symmetric op.
_CONTAIN_T = 0.5

@op(
    "dedup_containment",
    f"""
    with {_SHINGLES_CTE},
    hsh as (select doc_id, {_H60_SQL_DUCK} as h from shingles),
    sizes as (select doc_id, count(*) as n_sh from hsh group by doc_id),
    capped as (
      select doc_id, h from hsh
      where h in (select h from hsh group by h
                  having count(*) between 2 and {_MAX_POSTING})
    ),
    inter as (
      select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
      from capped a join capped b
        on a.h = b.h and a.doc_id < b.doc_id
      group by a.doc_id, b.doc_id
    )
    select doc_a, doc_b,
           cast(n_inter as double) / sa.n_sh as cont_a,
           cast(n_inter as double) / sb.n_sh as cont_b,
           sa.n_sh < sb.n_sh as a_is_smaller
    from inter
      join sizes sa on sa.doc_id = doc_a
      join sizes sb on sb.doc_id = doc_b
    where cast(n_inter as double) / sa.n_sh >= {_CONTAIN_T}
       or cast(n_inter as double) / sb.n_sh >= {_CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs: |A∩B|/|A| or |A∩B|/|B| >= _CONTAIN_T over
    distinct word-3-gram sets (see module comment — catches the
    doc-inside-doc duplication symmetric Jaccard can't)."""
    inter = _pair_intersections(_shingle_arr(_docs(spark, sf_dir)))
    ni = F.col("n_inter").cast("double")
    cont_a, cont_b = ni / F.col("n_a"), ni / F.col("n_b")
    return inter.filter((cont_a >= _CONTAIN_T) | (cont_b >= _CONTAIN_T)).select(
        "doc_a",
        "doc_b",
        cont_a.alias("cont_a"),
        cont_b.alias("cont_b"),
        (F.col("n_a") < F.col("n_b")).alias("a_is_smaller"),
    )


# --- MinHash + LSH ---------------------------------------------------------------
_N_HASH = 8
_BAND = 2  # 4 bands of 2 -> candidate if any band collides
_MH_P = 4294967311  # prime > 2^32


def _mh_ab(k: int) -> tuple[int, int]:
    # small multipliers keep a*h < 2^39 (ANSI-safe); pairwise-independent enough
    return 2 * k + 3, 104729 * k + 12345


# one md5 per shingle -> 32-bit int; 8 permutations are pure arithmetic
# (8x cheaper than hashing per permutation, measured 136s -> see bench)
_H32_SQL_DUCK = "cast(cast(concat('0x', substr(md5(shingle), 1, 8)) as ubigint) as bigint)"

_MINHASH_SIGS_SQL = ",\n           ".join(
    f"min(({_mh_ab(k)[0]} * {_H32_SQL_DUCK} + {_mh_ab(k)[1]}) % {_MH_P}) as sig{k}"
    for k in range(_N_HASH)
)
def _band_union_sql(rel: str) -> str:
    """DuckDB band-bucket relation (doc_id, band_id, sig_a, sig_b) over a
    signatures relation — the oracle twin of ``_band_buckets``'s explode."""
    return " union all ".join(
        f"select doc_id, {b} as band_id, sig{2 * b} as sig_a, sig{2 * b + 1} as sig_b from {rel}"
        for b in range(_N_HASH // _BAND)
    )


_BAND_UNION_SQL = _band_union_sql("sigs")


def _minhash_sigs(d: DataFrame) -> DataFrame:
    """(doc_id, sig0..sig7) MinHash signatures of a (doc_id, text) frame.

    explode + codegen'd hash-aggregate with 8 min-aggs: whole-stage
    codegen CSEs the shared md5 subtree, beating both an array_min
    higher-order rewrite (interpreted lambdas, md5 duplicated by
    projection collapse) and a single-pass F.aggregate struct
    accumulator (interpreted per-element eval) — measured 5.1s vs
    8.6s vs 9.0s at sf0.1."""
    sh = _shingles(d)
    h32 = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("bigint")
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(_mh_ab(k)[0]) * h32 + F.lit(_mh_ab(k)[1])) % F.lit(_MH_P)).alias(
                f"sig{k}"
            )
            for k in range(_N_HASH)
        ]
    )


def minhash_candidate_pairs(d: DataFrame, rows_per_band: int = _BAND) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs from MinHash band
    collisions, with the band SHAPE as the recall dial: bands =
    ``_N_HASH // rows_per_band``; narrower bands (fewer rows each)
    collide more easily — P(band collision) = s^rows for Jaccard s, so
    P(candidate) = 1-(1-s^rows)^bands, the standard LSH s-curve. The
    dial trades verification cost for recall exactly like IVF's nprobe
    and sign-LSH's multiprobe (measured curve in PERF.md).
    ``rows_per_band=2`` generates EXACTLY the production scheme's
    candidate set (same signatures, same banding as ``_band_buckets``
    — pinned by ``test_minhash_band_dial_recall_monotone``); for that
    production point prefer ``dedup_minhash_lsh``'s scalar
    (band_id, sig_a, sig_b) join, which is the faster plan — this
    parametrized form (array band keys) is the exploration dial."""
    if (
        not isinstance(rows_per_band, int)
        or rows_per_band < 1
        or _N_HASH % rows_per_band
    ):
        raise ValueError(f"rows_per_band must be a positive int divisor of {_N_HASH}")
    sigs = _minhash_sigs(d)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.array(
                    *[
                        F.col(f"sig{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("key"),
            )
            for b in range(_N_HASH // rows_per_band)
        ]
    )
    bb = sigs.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.key").alias("key")
    )
    a, c = bb.alias("a"), bb.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band_id") == F.col("c.band_id"))
            & (F.col("a.key") == F.col("c.key"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )


def _band_dial_sql(rows_per_band: int) -> str:
    """DuckDB twin of ``minhash_candidate_pairs`` at a given band shape
    (list-valued band keys mirror the Spark array keys)."""
    bands = " union all ".join(
        "select doc_id, {b} as band_id, [{key}] as key from sigs".format(
            b=b,
            key=", ".join(f"sig{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(_N_HASH // rows_per_band)
    )
    return f"""
    with {_SHINGLES_CTE},
    sigs as (select doc_id,
           {_MINHASH_SIGS_SQL}
           from shingles group by doc_id),
    bands as ({bands})
    select distinct a.doc_id as doc_a, c.doc_id as doc_b
    from bands a join bands c
      on a.band_id = c.band_id and a.key = c.key and a.doc_id < c.doc_id
    """


@op("dedup_minhash_band_dial", _band_dial_sql(4))
def dedup_minhash_band_dial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash band dial at a NON-production point — 2 bands of 4
    rows (stricter than the production 4x2, whose candidates are already
    oracle-checked via ``dedup_minhash_lsh``): value-checks the
    parametrized band-key construction cross-engine so the dial itself
    is gate-verified, not just pytest-verified."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return minhash_candidate_pairs(docs, rows_per_band=4)


def _band_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, band_id, sig_a, sig_b) LSH band buckets of a (doc_id,
    text) DataFrame: shingle -> one md5 -> 8 arithmetic permutation-min
    signatures -> 4 bands of 2. One shuffle (the signature hash-agg,
    map-side min-combined); the band explode is narrow, from one row (a
    union would recompute the signature subtree per band)."""
    sigs = _minhash_sigs(d)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.col(f"sig{2 * b}").alias("sig_a"),
                F.col(f"sig{2 * b + 1}").alias("sig_b"),
            )
            for b in range(_N_HASH // _BAND)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.sig_a").alias("sig_a"),
        F.col("bb.sig_b").alias("sig_b"),
    )


@op(
    "dedup_minhash_lsh",
    f"""
    with {_SHINGLES_CTE},
    sigs as (
      select doc_id,
           {_MINHASH_SIGS_SQL}
      from shingles group by doc_id
    ),
    buckets as ({_BAND_UNION_SQL})
    select distinct a.doc_id as doc_a, b.doc_id as doc_b
    from buckets a join buckets b
      on a.band_id = b.band_id and a.sig_a = b.sig_a and a.sig_b = b.sig_b
     and a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: band buckets (see ``_band_buckets``)
    equi-joined on the band's signature pair. One shuffle to aggregate
    signatures, one selective equi-join — the standard sub-quadratic
    near-dup plan at corpus scale."""
    buckets = _band_buckets(_docs(spark, sf_dir))
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig_a") == F.col("b.sig_a"))
            & (F.col("a.sig_b") == F.col("b.sig_b"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# --- SimHash ---------------------------------------------------------------------
_SIMHASH_BITS = 16

_SIMHASH_SUMS_SQL = ",\n           ".join(
    f"sum(case when substr(md5(token), {j + 1}, 1) >= '8' then 1 else -1 end) as s{j}"
    for j in range(_SIMHASH_BITS)
)
_SIMHASH_COMBINE_SQL = " + ".join(
    f"(case when s{j} > 0 then {1 << j} else 0 end)" for j in range(_SIMHASH_BITS)
)


@op(
    "dedup_simhash",
    f"""
    with tokens as (
      select doc_id, unnest(list_distinct(string_split(text, ' '))) as token
      from documents
    ),
    sums as (
      select doc_id,
           {_SIMHASH_SUMS_SQL}
      from tokens group by doc_id
    )
    select doc_id, {_SIMHASH_COMBINE_SQL} as simhash
    from sums
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit): per distinct token, each bit j votes +1/-1 by
    the j-th md5 nibble; bit set when the vote sum is positive. All
    JVM-side hash/array ops.

    Shape note (measured, same rationale as the MinHash signature op
    above): explode + codegen'd 16-way hash-aggregate at 0.84s median
    beats an array-side rewrite (md5 array + one interpreted filter()
    per bit) at 1.57s — whole-stage codegen CSEs the md5 across the 16
    sums, while HOF lambdas evaluate interpreted. The exchange is NOT
    corpus-sized: a doc's exploded tokens are co-located, so map-side
    partial aggregation collapses them to one row per doc before the
    doc_id shuffle — O(docs) over the wire, the same as a projection.
    NULL-text docs drop in the explode, matching the oracle's unnest +
    GROUP BY cardinality."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token")
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.substring(F.md5("token"), j + 1, 1) >= "8", 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    combine = None
    for j in range(_SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    return sums.select("doc_id", combine.alias("simhash"))


# --- connected components over near-dup pairs ---------------------------------
# MinHash pairs say "these two are near-dups"; deduplication needs the
# transitive closure — one canonical representative per CLUSTER (A near
# B near C => one survivor, not two). Spark realization: iterative
# min-label propagation (each node takes the min label among itself and
# its neighbors until fixpoint) — the Pregel-lite pattern; convergence
# in O(component diameter) supersteps, which for near-dup clusters is
# small. At 10^12-doc scale with adversarial long chains you'd switch
# to the large-star/small-star alternation (Kiveris et al., "Connected
# Components in MapReduce and Beyond"), which converges in O(log n)
# rounds with the same join/groupBy building blocks; plain propagation
# is the right trade for shallow dedup clusters. The driver loop's only
# driver-side data is the one-row convergence count per superstep.
_CC_MAX_ITERS = 50  # >= any plausible cluster diameter; guarded below

_COMPONENTS_ORACLE = f"""
    with recursive {_SHINGLES_CTE},
    sigs as (
      select doc_id,
           {_MINHASH_SIGS_SQL}
      from shingles group by doc_id
    ),
    buckets as ({_BAND_UNION_SQL}),
    pairs as (
      select distinct a.doc_id as doc_a, b.doc_id as doc_b
      from buckets a join buckets b
        on a.band_id = b.band_id and a.sig_a = b.sig_a and a.sig_b = b.sig_b
       and a.doc_id < b.doc_id
    ),
    edges as (
      select doc_a as u, doc_b as v from pairs
      union all
      select doc_b as u, doc_a as v from pairs
    ),
    reach(u, v) as (
      select doc_id, doc_id from documents
      union
      select e.u, r.v from edges e join reach r on e.v = r.u
    )
    select u as doc_id, min(v) as rep
    from reach group by u
"""


def propagate_components(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair graph.

    ``pairs(doc_a, doc_b)`` -> ``(doc_id, rep)`` with rep = smallest
    doc_id in the node's connected component; ``nodes(doc_id)`` supplies
    the universe (nodes absent from any pair become singletons,
    rep = doc_id). If the component diameter exceeds ``_CC_MAX_ITERS``
    (a poisoned crawl chaining near-dups into a long path WILL happen
    at 10^12 docs), it finishes with the O(log n)-round star
    contraction — same (doc_id, rep) contract, same oracle — and emits
    a ``RuntimeWarning``; silent partial labels are never returned.
    """
    # symmetrize via ONE explode, not a self-union: the union form
    # evaluates the (potentially expensive) pairs plan twice while the
    # persist materializes — for the LSH pair graph that was ~2s of the
    # operator's sf0.1 cost, pure waste
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .persist()
    )
    # Propagate ONLY over nodes the pair graph touches: at corpus scale
    # the overwhelming majority of documents are singletons — they must
    # not ride through every superstep's shuffle. Singletons rejoin as
    # rep = doc_id at the end. (edges holds both directions, so `u`
    # alone covers every endpoint.)
    labels = edges.select(F.col("u").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("rep")
    )
    prev = None
    # cap + 1: a diameter-D component needs D propagating supersteps
    # PLUS one changed==0 probe to observe convergence, so diameter ==
    # _CC_MAX_ITERS must still succeed (the guard fires only beyond it)
    for _ in range(_CC_MAX_ITERS + 1):
        nbr = (
            edges.join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("rep").alias("nbr_rep"))
        )
        # carry old_rep through the update so the convergence probe is a
        # filter on the materialized result, not a second labels-join.
        # localCheckpoint (NOT persist): labels appears twice in each
        # superstep's plan, so without lineage truncation the logical
        # tree DOUBLES per iteration and Catalyst analysis goes
        # exponential (a path-8 graph took 280s against <2s of actual
        # compute — PERF.md "iterative lineage blowup"). Eager local
        # checkpointing makes every superstep's plan constant-size; on a
        # fault-tolerant cluster run, swap for checkpoint() on reliable
        # storage.
        upd = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("rep"), F.coalesce("nbr_rep", F.col("rep"))).alias(
                    "new_rep"
                ),
                F.col("rep").alias("old_rep"),
            )
            .localCheckpoint(eager=True)
        )
        # (eager, not lazy, checkpoint: the convergence probe's limit(1)
        # short-circuits, so a lazy checkpoint would be left partially
        # materialized and recomputed next superstep — measured no win)
        changed = upd.filter(F.col("new_rep") != F.col("old_rep")).limit(1).count()
        # the previous superstep's checkpoint blocks are dead once the
        # new one is materialized; release them deterministically
        # (df.unpersist() is a no-op for checkpoint storage — see
        # session.release_local_checkpoint) instead of retaining
        # O(iterations x labels) until gc + ContextCleaner get around.
        # (NO gc.collect() here: release_local_checkpoint already frees
        # the JVM blocks; a full Python collection per superstep costs
        # seconds in a long-lived session full of py4j refs — measured
        # as most of the bench-vs-clean gap for this operator)
        if prev is not None:
            release_local_checkpoint(prev)
        prev = upd
        labels = upd.select("doc_id", F.col("new_rep").alias("rep"))
        if changed == 0:
            break
    else:
        # never converged: silently returning partial labels would hand
        # the caller (and the driver gate) wrong components
        import warnings

        edges.unpersist()
        warnings.warn(
            f"propagate_components hit the {_CC_MAX_ITERS}-superstep cap "
            "(component diameter too large — adversarial near-dup chain?); "
            "the components were computed by O(log n) star contraction "
            "instead and are exact",
            RuntimeWarning,
            stacklevel=2,
        )
        return propagate_components_star(pairs, nodes)
    edges.unpersist()
    singletons = (
        nodes.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("rep"))
    )
    return labels.unionByName(singletons)


@op("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: (doc_id, rep) where rep is the smallest doc_id
    reachable through MinHash+LSH candidate pairs (singletons map to
    themselves). Oracle = recursive-CTE transitive closure over the same
    pair graph; the propagation itself is property-tested against a
    union-find reference on random graphs (test_properties)."""
    return propagate_components(
        dedup_minhash_lsh(spark, sf_dir), _docs(spark, sf_dir).select("doc_id")
    )


# --- large-star/small-star contraction (the adversarial-diameter path) --------
# Min-label propagation needs O(diameter) supersteps; a poisoned crawl
# can chain near-dups into paths thousands long. The two-phase star
# contraction (Kiveris et al., "Connected Components in MapReduce and
# Beyond", 2014) converges in O(log n) rounds on ANY graph using the
# same join/groupBy building blocks:
#   large-star(u): attach every neighbor v > u to m = min(N(u) + {u})
#   small-star(u): attach every neighbor v <= u (and u) to
#                  m = min of those
# The fixed point is a star forest rooted at each component's minimum.
_STAR_MAX_ROUNDS = 40


def _canon_edges(e: DataFrame) -> DataFrame:
    """(a, b) -> distinct undirected (lo, hi), self-loops dropped."""
    return (
        e.select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("minv"))
        .select("u", F.least("u", "minv").alias("m"))
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # canonical edges are already (lo, hi): hi's smaller-neighborhood
    # list is exactly the lo column grouped by hi
    m = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    rewired = (
        edges.join(m, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("a"), F.col("m").alias("b"))
    )
    to_center = m.select(F.col("hi").alias("a"), F.col("m").alias("b"))
    return rewired.union(to_center)


def propagate_components_star(pairs: DataFrame, nodes: DataFrame) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction — same (doc_id, rep) contract as propagate_components,
    O(log n) rounds regardless of component diameter. Each round is
    eagerly localCheckpoint'ed (see the lineage-blowup note above)."""
    edges = _canon_edges(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    ).localCheckpoint(eager=True)
    if edges.isEmpty():
        return nodes.select("doc_id", F.col("doc_id").alias("rep"))
    for _ in range(_STAR_MAX_ROUNDS):
        after_large = _canon_edges(_large_star(edges)).localCheckpoint(eager=True)
        after_small = _canon_edges(_small_star(after_large)).localCheckpoint(eager=True)
        # fixed point: the canonical edge SET is unchanged by a round
        converged = (
            after_small.count() == edges.count()
            and after_small.exceptAll(edges).isEmpty()
        )
        # free the superseded rounds' checkpoint blocks deterministically
        # (see the propagation loop's note — and like there, no
        # gc.collect(): the JVM blocks are already freed)
        release_local_checkpoint(edges)
        release_local_checkpoint(after_large)
        edges = after_small
        if converged:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {_STAR_MAX_ROUNDS} rounds"
        )
    # converged edges form a star forest: every hi points at its
    # component minimum lo (min-agg defends against ties regardless)
    labels = edges.groupBy(F.col("hi").alias("doc_id")).agg(
        F.min("lo").alias("rep")
    )
    roots = edges.select(F.col("lo").alias("doc_id")).distinct().join(
        labels.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("rep"))
    singles = nodes.select("doc_id").join(
        edges.select(F.col("lo").alias("doc_id"))
        .union(edges.select(F.col("hi").alias("doc_id")))
        .distinct(),
        "doc_id",
        "left_anti",
    ).select("doc_id", F.col("doc_id").alias("rep"))
    return labels.unionByName(roots).unionByName(singles)


@op("dedup_components_star", _COMPONENTS_ORACLE)
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components' scale twin: identical clusters (same oracle)
    from the O(log n)-round star contraction instead of O(diameter)
    label propagation — the variant that survives adversarially long
    near-dup chains at 10^12 docs."""
    return propagate_components_star(
        dedup_minhash_lsh(spark, sf_dir), _docs(spark, sf_dir).select("doc_id")
    )


# --- winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
# algorithm) ----------------------------------------------------------
#
# The position-robust layer between whole-doc hashing (text_fingerprint
# — breaks on ONE changed byte) and shingle-set Jaccard (dedup_ngram_*
# — keeps every shingle): winnowing keeps, per window of w consecutive
# k-gram hashes, only the window's MINIMUM (rightmost on ties), which
# GUARANTEES any shared substring of length >= w + k - 1 yields a
# shared fingerprint while storing only ~2/(w+1) of the grams. That
# density bound is what makes partial-overlap detection affordable at
# 10^12 docs: the posting index is a w-fold smaller join key space
# with a hard detection floor, not a sampling hope.
#
# INTEGER-EXACT BY SPEC: 40-bit md5-slice gram hashes; the select key
# packs (hash, 2^16-1 - pos mod 2^16) into one int64 so "min hash,
# rightmost position on ties" is a plain integer MIN — identical in
# both engines (ties between equal hashes >= 2^16 grams apart resolve
# by pos mod 2^16; deterministic, shared, and astronomically rare at
# 40 bits).

_WINNOW_K = 8  # chars per gram
_WINNOW_W = 4  # grams per window
_WINNOW_POSM = 1 << 16


def _with_code_points(text_sql: str, body: str) -> str:
    """SQL evaluating ``body`` with ``cs`` bound to the code points of
    ``text_sql`` (``split(t, '')``). ``cs`` is a lambda parameter, not a
    projected column, so the text is split once per row whether or not
    Catalyst collapses projections into the lambdas that read it
    (PERF.md §1: a captured computed column can be re-evaluated per
    element)."""
    return f"element_at(transform(array(split({text_sql}, '')), cs -> {body}), 1)"


def _gram_hash_sql(k: int) -> str:
    """SQL for the 40-bit md5-slice hash of the ``k``-gram starting at
    1-based char position ``p`` of the code-point array ``cs`` (see
    ``_with_code_points``) — the gram hash of winnowing and CDC. The
    gram is k array reads, so hashing every position is linear in doc
    length; ``substring(t, p, k)`` walks the UTF-8 string from its
    start on each call, which made the same pass quadratic."""
    # cs[] is 0-based: the gram at 1-based p is cs[p - 1] .. cs[p + k - 2]
    reads = ["cs[p - 1]", "cs[p]"] + [f"cs[p + {i}]" for i in range(1, k - 1)]
    gram = ", ".join(reads)
    return f"cast(conv(substring(md5(concat({gram})), 1, 10), 16, 10) as bigint)"


def winnow_fingerprints(
    df: DataFrame, k: int = _WINNOW_K, w: int = _WINNOW_W
) -> DataFrame:
    """Per-document winnowed fingerprints of a (doc_id, text) frame ->
    (doc_id, fp_pos, fp_hash), one row per selected (position,
    gram-hash) pair. Docs shorter than
    k chars emit nothing; docs with fewer than w grams emit the single
    minimum gram (the standard short-doc clamp). ZERO shuffles: the
    per-position keys, the w-wide sliding minimum and the per-doc
    dedup all run ARRAY-SIDE inside one projection (higher-order
    functions), so only the ~2/(w+1)-dense selections ever become rows
    — the row-explode formulation this replaces materialized one row
    per CHARACTER and shuffled them all into a doc_id window (measured
    ~5x slower at sf0.1, and the exchange grows with corpus bytes)."""
    k, w = int(k), int(w)
    if not 2 <= k <= 64:
        raise ValueError(f"k must be in [2, 64], got {k}")
    if not 2 <= w <= 1024:
        raise ValueError(f"w must be in [2, 1024], got {w}")
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    d = df.select("doc_id", t.alias("t")).filter(F.length("t") >= k)
    # packed select keys per gram position (integer-exact spec above)
    keys = _with_code_points(
        "t",
        f"transform(sequence(1, size(cs) - {k} + 1), p -> {_gram_hash_sql(k)}"
        f" * {_WINNOW_POSM}L + ({_WINNOW_POSM - 1}L - p % {_WINNOW_POSM}))",
    )
    # per-window minimum (slice clamps at the array end, which IS the
    # short-doc rule: < w grams -> one window over all of them), then
    # within-doc dedup — array_distinct == the old (doc_id, sk) distinct
    sel = (
        f"array_distinct(transform(sequence(1, greatest(1, size(ks) - {w} + 1)), "
        f"i -> array_min(slice(ks, i, {w}))))"
    )
    return (
        d.select("doc_id", F.expr(keys).alias("ks"))
        .select("doc_id", F.explode(F.expr(sel)).alias("sk"))
        .select(
            "doc_id",
            (F.lit(_WINNOW_POSM - 1) - F.col("sk") % _WINNOW_POSM).alias("fp_pos"),
            # div, not /: float division loses bits above 2^53 and the
            # packed key reaches 2^56
            F.expr(f"sk div {_WINNOW_POSM}").alias("fp_hash"),
        )
    )


def _winnow_sel_sql(src: str, tag: str) -> str:
    """One source's winnowing pipeline -> ``{tag}_fps`` CTE of distinct
    (doc_id, sk) packed selections — the SAME gram/window/min spec as
    ``winnow_fingerprints``, parameterized by source table."""
    return f"""
{tag}_d as (
  select doc_id, lower(coalesce(text, '')) as t
  from {src} where length(lower(coalesce(text, ''))) >= {_WINNOW_K}
),
{tag}_grams as (
  select doc_id, cast(i as bigint) as pos,
         length(t) - {_WINNOW_K} + 1 as n_grams,
         ('0x' || substr(md5(substr(t, cast(i as int), {_WINNOW_K})), 1, 10))::bigint as h
  from {tag}_d, unnest(range(1, length(t) - {_WINNOW_K} + 2)) u(i)
),
{tag}_sel as (
  select doc_id, pos, n_grams,
         min(h * {_WINNOW_POSM} + ({_WINNOW_POSM - 1} - pos % {_WINNOW_POSM})) over (
           partition by doc_id order by pos
           rows between current row and {_WINNOW_W - 1} following) as sk
  from {tag}_grams
),
{tag}_fps as (
  select distinct doc_id, sk from {tag}_sel
  where pos <= greatest(1, n_grams - {_WINNOW_W} + 1)
)"""


_WINNOW_ORACLE = f"""
with {_winnow_sel_sql("documents", "w").lstrip()},
fps as (select doc_id, sk from w_fps)
select doc_id,
       cast(count(*) as bigint) as n_fps,
       cast(sum(sk // {_WINNOW_POSM}) as bigint) as fp_sum,
       cast(bit_xor(sk // {_WINNOW_POSM}) as bigint) as fp_xor,
       cast(sum({_WINNOW_POSM - 1} - sk % {_WINNOW_POSM}) as bigint) as pos_sum
from fps group by doc_id
"""


@op("dedup_winnow", _WINNOW_ORACLE)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing gate: per document, the selected fingerprint set
    folded to (count, hash sum, hash xor, position sum) — four integer
    aggregates that pin the multiset of selections (a wrong hash, a
    missing window, or an off-by-one position each break a different
    aggregate) while keeping the compare O(docs) instead of
    O(fingerprints)."""
    fps = winnow_fingerprints(_docs(spark, sf_dir))
    return fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"),
        F.sum("fp_hash").cast("long").alias("fp_sum"),
        F.bit_xor("fp_hash").cast("long").alias("fp_xor"),
        F.sum("fp_pos").cast("long").alias("pos_sum"),
    )


_WINNOW_MIN_SHARED = 8
_WINNOW_MAX_POSTING = 16


def _winnow_doc_fps(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, fp_hash) — the posting-level view of a doc
    set's winnowed fingerprints (positions dropped: overlap evidence
    is hash sharing, wherever it occurs)."""
    return winnow_fingerprints(d).select("doc_id", "fp_hash").distinct()


def _winnow_match(x: DataFrame, y: DataFrame, rel) -> DataFrame:
    """``match`` for the winnowing ingest: x docs sharing at least
    ``_WINNOW_MIN_SHARED`` distinct fingerprints with ONE y doc, over
    the y postings of x's hashes whose df in y is at most
    ``_WINNOW_MAX_POSTING`` (boilerplate is excluded before any pair is
    generated). Restricting y to x's hashes keeps every y posting of a
    matched hash, so the df is the hash's true df on that side; capping
    y alone yields the same pairs as capping both sides, since a
    hash's eligibility is decided per hash within one frame."""
    y = y.join(x.select("fp_hash").distinct(), "fp_hash", "left_semi")
    eligible = (
        y.groupBy("fp_hash")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= _WINNOW_MAX_POSTING)
        .select("fp_hash")
    )
    y = y.join(eligible, "fp_hash", "left_semi")
    return (
        x.alias("x")
        .join(
            y.alias("y"),
            (F.col("x.fp_hash") == F.col("y.fp_hash"))
            & rel(F.col("x.doc_id"), F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("doc_id"), F.col("y.doc_id").alias("other"))
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= _WINNOW_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )


def winnow_index_ingest(
    spark: SparkSession,
    index_path: str,
    docs: DataFrame,
    *,
    op_label: str = "winnow-ingest",
) -> tuple[DataFrame, int]:
    """PARTIAL-overlap recrawl ingest of ``docs`` (``doc_id``,
    ``text``) against a persisted index of (doc_id, fp_hash) distinct
    winnowed fingerprints, under the shared rule of
    ``_retained_index_ingest``. Evidence is PAIRWISE (``_winnow_match``):
    substring-level overlap — quotes, templates, re-hosted fragments
    that minhash-of-the-whole-doc misses when the rest differs.
    Verdicts are 'known_overlap', 'overlap_in_increment' or 'novel'
    (incl. docs too short to gram)."""
    d = docs.select("doc_id", "text")
    return _retained_index_ingest(
        spark,
        index_path,
        d.select("doc_id").distinct(),
        _winnow_doc_fps(d),
        _winnow_match,
        ("overlap_in_increment", "known_overlap"),
        ("winnow_index_ingest", "winnow_index_verdicts"),
        op_label,
    )
