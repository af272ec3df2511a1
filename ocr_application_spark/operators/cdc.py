"""Content-defined chunking (CDC) + chunk-level cross-doc dedup.

The backup/rsync dedup idea applied to a web corpus: split each
document at positions where a LOCAL rolling-window hash satisfies a
mask (here: 40-bit md5-slice of the 8-gram ending at the position,
h % 32 == 0 -> mean chunk ~ 32+8 chars), then dedup at CHUNK
granularity across documents. Because boundaries depend only on the
surrounding bytes, an insertion near the head re-chunks ONLY the
region it touches — every later chunk keeps its content and hash
(shift robustness; pinned in tests), which is exactly what fixed-size
blocking loses. The op complements the existing ladder: whole-doc
fingerprint (one byte breaks it) < CDC shared-chunk ratio (localized
edits) < winnowing (arbitrary-offset substring overlap) < shingle
Jaccard (set similarity).

Scale shape: chunking itself is ARRAY-SIDE inside one projection
(same zero-shuffle idiom as winnowing — only real chunks become rows)
and linear in doc length: each doc is split into code points once and
every gram and chunk is read from that array (``substring`` on a Spark
string walks code points from the start, so one call per position
would be quadratic per doc — PERF.md §7c). The cross-doc sharing
needs one explode + a chunk-hash groupBy + a join back + a doc
groupBy. The chunk-hash key space is ~text_bytes/40
— the shuffles are O(corpus bytes / mean chunk), never O(pairs), and
a hot boilerplate chunk costs one counter, not a posting blowup.

Integer-exact by spec: chunk hashes are 40-bit md5 slices (conv in
Spark == '0x'||substr cast in DuckDB — the winnowing convention);
shared ratios are basis points via integer division of non-negative
bigints (floor == truncate when non-negative, the div-vs-// rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.dedup import _gram_hash_sql, _with_code_points
from ocr_application_spark.operators.registry import op

_CDC_K = 8  # rolling-window gram width (chars)
_CDC_MASK = 32  # boundary when gram-hash % 32 == 0 -> mean chunk ~ 40 chars


def cdc_chunks(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document CDC chunks -> (doc_id, chunk_no, chunk_chars,
    chunk_hash), one row per non-empty chunk, chunk_no 1-based in
    document order. Docs shorter than the gram width (or empty) form a
    single chunk when non-empty, none when empty. Array-side: boundary
    selection, start/end pairing and slicing all run inside one
    projection; only final chunks become rows."""
    k, m = _CDC_K, _CDC_MASK
    t = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select(F.col(id_col).alias("doc_id"), t.alias("t")).filter(
        F.length("t") >= 1
    )
    # boundary char indices: END position of each masked gram
    bounds = (
        f"case when size(cs) >= {k} then "
        f"transform(filter(sequence(1, size(cs) - {k} + 1), p -> "
        f"{_gram_hash_sql(k)} % {m} = 0), e -> e + {k} - 1) "
        f"else array() end"
    )
    # bs is bound as a lambda parameter too: it is read twice below
    chunks = _with_code_points(
        "t",
        f"element_at(transform(array({bounds}), bs -> filter(zip_with("
        "concat(array(1), transform(bs, e -> e + 1)), "
        "concat(bs, array(size(cs))), "
        "(s, e) -> array_join(slice(cs, s, e - s + 1), '')), "
        "c -> length(c) > 0)), 1)",
    )
    return (
        d.select("doc_id", F.posexplode(F.expr(chunks)).alias("i", "c"))
        .select(
            "doc_id",
            (F.col("i") + 1).alias("chunk_no"),
            F.length("c").alias("chunk_chars"),
            F.expr("cast(conv(substring(md5(c), 1, 10), 16, 10) as bigint)").alias(
                "chunk_hash"
            ),
        )
    )


def _cdc_sel_sql(src: str, tag: str = "") -> str:
    """One source's CDC pipeline -> ``{tag}hashed`` CTE of
    (doc_id, chunk_no, chunk_chars, chunk_hash) — the SAME boundary /
    slicing / hashing spec as ``cdc_chunks``, parameterized by source
    table (the winnowing-oracle convention)."""
    return f"""
{tag}d as (
  select doc_id, lower(coalesce(text, '')) as t
  from {src} where length(coalesce(text, '')) >= 1
),
{tag}bl as (
  select doc_id, list(i + {_CDC_K} - 1 order by i) as bs
  from (
    select doc_id, i,
           ('0x' || substr(md5(substr(t, cast(i as int), {_CDC_K})), 1, 10))::bigint as h
    from {tag}d, unnest(range(1, greatest(length(t) - {_CDC_K} + 2, 1))) u(i)
  ) g
  where h % {_CDC_MASK} = 0
  group by doc_id
),
{tag}segs as (
  select d.doc_id, d.t,
         list_prepend(1, list_transform(coalesce(bl.bs, []), e -> e + 1)) as ss,
         list_append(coalesce(bl.bs, []), cast(length(d.t) as bigint)) as es
  from {tag}d d left join {tag}bl bl using (doc_id)
),
{tag}chunks as (
  select doc_id, u.i as chunk_no,
         substr(t, cast(ss[u.i] as int), cast(es[u.i] - ss[u.i] + 1 as int)) as c
  from {tag}segs, unnest(range(1, len(ss) + 1)) u(i)
  where es[u.i] - ss[u.i] + 1 > 0
),
{tag}hashed as (
  select doc_id, chunk_no, length(c) as chunk_chars,
         ('0x' || substr(md5(c), 1, 10))::bigint as chunk_hash
  from {tag}chunks
)"""


_CDC_SEL_SQL = _cdc_sel_sql("documents")


_CDC_ORACLE = f"""
    with {_CDC_SEL_SQL.lstrip()},
    sharing as (
      select chunk_hash, count(distinct doc_id) as nd
      from hashed group by chunk_hash
    )
    select h.doc_id,
           cast(count(*) as bigint) as n_chunks,
           cast(sum(h.chunk_chars) as bigint) as total_chars,
           cast(sum(case when s.nd >= 2 then h.chunk_chars else 0 end) as bigint)
             as shared_chars,
           cast(10000 * cast(sum(case when s.nd >= 2 then h.chunk_chars else 0 end) as bigint)
                // cast(sum(h.chunk_chars) as bigint) as bigint) as shared_bp
    from hashed h join sharing s using (chunk_hash)
    group by h.doc_id
"""


@op("dedup_cdc_chunks", _CDC_ORACLE)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC dedup gate: per doc, chunk count, total/shared chunk chars
    (shared = the chunk's hash appears in >= 2 docs) and the shared
    ratio in basis points — the signal a curation pass thresholds to
    drop template-heavy near-copies while keeping genuinely novel
    text. chunk_no order is irrelevant to the aggregate, so the whole
    op is explode -> chunk-hash agg -> join -> doc agg."""
    ch = cdc_chunks(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    sharing = ch.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    shared_chars = F.sum(
        F.when(F.col("nd") >= 2, F.col("chunk_chars")).otherwise(0)
    ).cast("long")
    return (
        ch.join(sharing, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("chunk_chars").cast("long").alias("total_chars"),
            shared_chars.alias("shared_chars"),
        )
        .withColumn(
            "shared_bp",
            F.expr("cast(10000 * shared_chars div total_chars as bigint)"),
        )
    )


# --- chunk-store incremental ingest (storage dedup) --------------------------
#
# The fourth member of the incremental-ingest family (exact / minhash /
# winnow verdicts live in dedup.py) and the one with a STORAGE story:
# a content-addressed chunk store (the backup/rsync design) persists
# every distinct chunk once; a recrawl increment only appends chunks
# whose hash the store has never seen, and the per-doc report prices
# the dedup — how many bytes the increment actually adds vs re-
# references. O(increment) per ingest: the store is probed with a
# hash join restricted to the increment's hashes; corpus chunks are
# never re-read.
#
# Attribution is deterministic: a hash novel to the store is charged
# to its FIRST holder in the increment (min (doc_id, chunk_no));
# later holders count it as 'dup_in_increment', store hits as
# 'known'. Replay-stable like the sibling ingests: re-ingesting the
# same batch finds every hash in the store -> zero new bytes.

# --- hash-bucketed probe mirror (the all-dup-replay fix, PERF §7b) ----------
#
# The Bloom sidecar makes a novel-dominated recrawl cheap (provably-
# absent hashes skip the store join) but cannot help an ALL-DUP replay:
# every suspect is a true store hit, so the probe join must touch the
# whole store — and with the store read as plain snapshot parquet, that
# join SHUFFLES O(store) rows every replay. The fix is layout, not
# filtering: maintain a hash-bucketed MIRROR of the store's chunk_hash
# column (Spark `bucketBy(N, chunk_hash)` table — the write_bucketed
# discipline of buckets_entry.py), so the probe's semi-join reads
# bucket i of the store scan-locally and only the (increment-sized)
# probe side is exchanged. Same sidecar contract as the Bloom: the
# snapshot stays the versioned source of truth, the mirror is stamped
# with the version it covers (`_STATE.json`), topped up from the
# O(new-rows) snapshot diff per ingest, and rebuilt from the full
# snapshot when missing/param-mismatched/crossing a rewrite — healing
# is a cost event, never a correctness one. Verdicts are BIT-IDENTICAL
# with the flag on or off (pinned in tests).

_MIRROR_BUCKETS = 64  # bucket dial; a real cluster sizes this to cores


def _mirror_names(store_path: str) -> tuple[str, str, str]:
    """(database, qualified table, data dir) for the probe mirror of
    ``store_path`` — SQL identifiers derived from the path hash so any
    number of stores coexist in one catalog. The path is normalized
    BEFORE hashing so 'store' and 'store/' name ONE mirror (two tables
    over one shared location would race each other's rebuilds)."""
    import hashlib

    canon = store_path.rstrip("/")
    h = hashlib.md5(canon.encode()).hexdigest()[:10]
    db = f"cdc_mirror_{h}"
    # '_probe_mirror' rather than a generic suffix: the sidecar must
    # never be confusable with a sibling SNAPSHOT STORE the caller
    # created next door (the soak scripts name stores 'chunkstore' and
    # 'chunkstore_bucketed' — a '_bucketed' suffix collided with the
    # latter and the rebuild path would have rmtree'd that store's
    # committed data). _claim_mirror_dir below fails loud on any
    # occupied, unclaimed directory as defense in depth.
    return db, f"{db}.store_b", canon + "_probe_mirror"


def _mirror_state_path(store_path: str) -> str:
    return _mirror_names(store_path)[2] + "/_STATE.json"


def _read_mirror_state(store_path: str) -> dict | None:
    import json
    import os

    p = _mirror_state_path(store_path)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            st = json.load(f)
        return st if {"covers_version", "n_buckets"} <= set(st) else None
    except (OSError, ValueError):
        return None


def _write_mirror_state(
    store_path: str, covers_version: int, n_buckets: int, n_hashes: int
) -> None:
    import json
    import os

    p = _mirror_state_path(store_path)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "covers_version": covers_version,
                "n_buckets": n_buckets,
                "n_hashes": n_hashes,
            },
            f,
        )
    os.replace(tmp, p)


def _distinct_hashes(spark: SparkSession, tbl: str) -> int:
    return spark.table(tbl).select("chunk_hash").distinct().count()


def _claim_mirror_dir(store_path: str, ddir: str, st: dict | None) -> None:
    """Refuse to rebuild over a directory this mirror cannot prove is
    its own: a rebuild rmtree's ``{ddir}/data``, and if the path is
    occupied by anything that did not come with our ``_STATE.json``
    stamp (a sibling snapshot store, a user directory), deleting it
    would destroy data we do not own. A valid state file — even a
    parameter-mismatched or stale one — is the claim; absent that, a
    non-empty dir fails LOUD instead of being cleared."""
    import os

    if st is not None or not os.path.isdir(ddir):
        return
    try:
        occupied = bool(os.listdir(ddir))
    except OSError:
        occupied = False
    if occupied:
        raise ValueError(
            f"cdc probe-mirror location {ddir!r} is occupied by files "
            f"without a mirror _STATE.json — refusing to delete them. "
            f"If this is a stale mirror, remove the directory manually; "
            f"if it is unrelated data, move it or relocate the store."
        )


def _bucketed_store_covering(
    spark: SparkSession, store_path: str, current_version: int, n_buckets: int
) -> DataFrame:
    """The mirror's (chunk_hash) DataFrame covering EXACTLY the store's
    ``current_version``: fresh -> returned as-is (bucketed scan, no
    exchange in downstream chunk_hash joins); stale with only append
    commits since ``covers_version`` -> topped up by appending the
    O(new-rows) snapshot diff; missing / mismatched / any non-append
    commit in range -> rebuilt from the full snapshot once. The diff
    lists additions only, so topping up across an overwrite would keep
    the hashes of removed rows and report them 'known'.
    The table is EXTERNAL (explicit path) so a fresh session's empty
    in-memory catalog re-adopts the existing bucketed files via DDL
    instead of rebuilding.

    Concurrency: store commits are CAS-protected upstream; here the
    state file write is atomic (os.replace) and a racing writer can at
    worst lose a state update or double-append a diff — both leave
    the mirror a SUPERSET with possible duplicate hash rows, which is
    correctness-neutral (the probe is a membership semi-join and its
    consumer runs distinct); the next covering call's heal converges
    the state. Same only-cost-never-correctness contract as the Bloom
    sidecar."""
    import shutil

    from ocr_application_spark.sources.snapshots import (
        read_snapshot,
        read_snapshot_diff,
        snapshot_info,
        snapshot_versions,
    )

    db, tbl, ddir = _mirror_names(store_path)
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{ddir}_db'"
    )
    adopt_ddl = (
        f"CREATE TABLE {tbl} (chunk_hash BIGINT) USING PARQUET "
        f"CLUSTERED BY (chunk_hash) SORTED BY (chunk_hash) "
        f"INTO {n_buckets} BUCKETS LOCATION '{ddir}/data'"
    )
    st = _read_mirror_state(store_path)
    mirror_ok = False
    if st is not None and st["n_buckets"] == n_buckets:
        if not spark.catalog.tableExists(tbl):
            spark.sql(adopt_ddl)  # new session, surviving files: adopt
        # cross-check the files against the stamped DISTINCT hash
        # count EVERY covering call, not only at adoption: a data dir
        # deleted or truncated behind a surviving state file — in this
        # session or a prior one — must rebuild, not silently probe an
        # under-filled mirror (which would re-commit store-known
        # chunks as novel). Distinct, not raw rows: a tolerated
        # double-append adds duplicate rows that could make up for a
        # lost file in a raw count; the price is one scan of the
        # mirror's single column where a raw count read only parquet
        # footers. refreshTable first so a stale cached file listing
        # can't vouch for files that are gone; a count that THROWS
        # (listing races a concurrent rebuild) counts as invalid and
        # falls through to the rebuild too, as does a state stamped
        # without "n_hashes".
        try:
            spark.catalog.refreshTable(tbl)
            mirror_ok = "n_hashes" in st and _distinct_hashes(spark, tbl) >= st["n_hashes"]
        except Exception:
            mirror_ok = False
        cv = st["covers_version"]
        if mirror_ok and cv == current_version:
            return spark.table(tbl).select("chunk_hash")
        if mirror_ok and cv < current_version and all(
            snapshot_info(store_path, v)["mode"] == "append"
            for v in snapshot_versions(store_path)
            if cv < v <= current_version
        ):
            try:
                from ocr_application_spark.session import bounded_cache

                # persist the (O(new-rows)) diff so the append and the
                # state-stamp count scan it once, not twice; the store
                # is content-addressed, so every diff hash is new to it
                added = bounded_cache(
                    read_snapshot_diff(
                        spark, store_path, cv, current_version
                    ).select("chunk_hash"),
                    "cdc_mirror_diff",
                )
                added.write.bucketBy(n_buckets, "chunk_hash").sortBy(
                    "chunk_hash"
                ).mode("append").format("parquet").saveAsTable(tbl)
                _write_mirror_state(
                    store_path, current_version, n_buckets,
                    st["n_hashes"] + added.count(),
                )
                return spark.table(tbl).select("chunk_hash")
            except (ValueError, FileNotFoundError):
                pass  # diff range crossed a branch/expiry: rebuild below
    # full rebuild: drop catalog entry AND files (saveAsTable refuses
    # to adopt a non-empty location), then write fresh — but NEVER
    # delete a directory this mirror cannot prove is its own
    _claim_mirror_dir(store_path, ddir, st)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(f"{ddir}/data", ignore_errors=True)
    full = read_snapshot(spark, store_path, version=current_version)
    (
        full.select("chunk_hash")
        .write.bucketBy(n_buckets, "chunk_hash")
        .sortBy("chunk_hash")
        .mode("overwrite")
        .format("parquet")
        .option("path", f"{ddir}/data")
        .saveAsTable(tbl)
    )
    _write_mirror_state(
        store_path, current_version, n_buckets, _distinct_hashes(spark, tbl)
    )
    return spark.table(tbl).select("chunk_hash")


def cdc_store_ingest(
    spark: SparkSession,
    store_path: str,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_label: str = "cdc-ingest",
    bloom_prefilter: bool = False,
    bloom_words: int = 1 << 16,
    bloom_hashes: int = 4,
    bucketed_probe: bool = False,
    probe_buckets: int = _MIRROR_BUCKETS,
) -> tuple[DataFrame, int]:
    """Ingest ``docs`` against the content-addressed chunk store at
    ``store_path``; append never-seen (chunk_hash, chunk_chars) rows;
    return (per-doc report, committed version). Report columns:
    (doc_id, n_chunks, total_chars, n_known, n_dup_increment, n_novel,
    novel_chars, saved_bp).

    ``bloom_prefilter=True`` routes the store probe through the SAME
    persisted Bloom sidecar machinery the fingerprint index uses
    (``{store_path}_bloom``, maintained incrementally in O(novel) per
    ingest, self-healing when stale): chunk hashes the filter rules
    out are provably absent, so the store join carries only maybe-seen
    suspects — on a novel-dominated recrawl the (store-sized) exchange
    shrinks to the true-dup sliver plus false positives. The report,
    store contents and replay stability are BIT-IDENTICAL either way
    (no false negatives); the flag is purely a cost dial.

    ``bucketed_probe=True`` is the complementary dial for the case a
    Bloom cannot help — the ALL-DUP replay, where every suspect is a
    true store hit: the store probe reads a self-healing hash-bucketed
    mirror (``bucketBy(probe_buckets, chunk_hash)`` table next to the
    store, maintained by O(new-rows) appends per ingest), so the store
    side of the probe semi-join is scan-local (ZERO store-side
    exchange — plan-pinned) and only the increment is shuffled.
    Verdicts, store contents and replay stability are BIT-IDENTICAL
    with any flag combination. Note: the bucketed probe eagerly
    localCheckpoints its O(increment) probe result (the mirror table
    is live; pinning the result is what keeps this ingest's own
    post-commit mirror append invisible to the lazy report); those
    blocks live until the session ends — long-lived multi-ingest
    sessions can free a consumed report's blocks with
    ``session.release_local_checkpoint``."""
    from ocr_application_spark.session import bounded_cache
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        snapshot_versions,
    )

    ch = bounded_cache(
        cdc_chunks(docs, id_col, text_col), "cdc_store_ingest"
    )  # reused by verdicts AND the novel-row commit
    versions = snapshot_versions(store_path)
    state = None
    if versions:
        inc_hashes = ch.select("chunk_hash").distinct()
        if bloom_prefilter:
            from ocr_application_spark.operators.dedup import _bloom_state_covering
            from ocr_application_spark.operators.sketches import bloom_probe

            state = bounded_cache(
                _bloom_state_covering(
                    spark, store_path, versions[-1], bloom_words, bloom_hashes,
                    key_col="chunk_hash",
                ),
                "cdc_bloom_state",
            )
            probe_keys = (
                bloom_probe(state, inc_hashes, "chunk_hash", bloom_words, bloom_hashes)
                .filter(F.col("maybe_seen"))
                .select("chunk_hash")
            )
        else:
            probe_keys = inc_hashes
        store_rows = (
            _bucketed_store_covering(spark, store_path, versions[-1], probe_buckets)
            if bucketed_probe
            else read_snapshot(spark, store_path, version=versions[-1]).select(
                "chunk_hash"
            )
        )
        store = (
            store_rows
            # probe restricted to the increment's (bloom-surviving)
            # hash set: O(increment) join work per ingest; with the
            # bucketed mirror the store side of this semi-join is
            # scan-local (no store exchange)
            .join(probe_keys, "chunk_hash", "left_semi")
            .distinct()
            .withColumn("in_store", F.lit(True))
        )
        if bucketed_probe:
            # the mirror TABLE is live (this ingest appends the novel
            # hashes to it after the commit below), while the plain
            # path reads a pinned snapshot version — so freeze the
            # probe RESULT (O(increment) bigint rows) before anything
            # mutates the mirror; this also runs the bucket-local
            # probe exactly once instead of once per downstream action
            store = store.localCheckpoint(eager=True)
    else:
        store = (
            ch.filter(F.lit(False)).select("chunk_hash").withColumn("in_store", F.lit(True))
        )
    first = (
        ch.groupBy("chunk_hash")
        .agg(F.min(F.struct("doc_id", "chunk_no")).alias("o"))
        .select("chunk_hash", F.col("o.doc_id").alias("own_doc"), F.col("o.chunk_no").alias("own_no"))
    )
    j = ch.join(store, "chunk_hash", "left").join(first, "chunk_hash")
    verdict = (
        F.when(F.col("in_store").isNotNull(), F.lit("known"))
        .when(
            (F.col("doc_id") == F.col("own_doc")) & (F.col("chunk_no") == F.col("own_no")),
            F.lit("novel"),
        )
        .otherwise(F.lit("dup_in_increment"))
    )
    jj = j.withColumn("verdict", verdict)
    report = (
        jj.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("chunk_chars").cast("long").alias("total_chars"),
            F.sum((F.col("verdict") == "known").cast("int")).cast("long").alias("n_known"),
            F.sum((F.col("verdict") == "dup_in_increment").cast("int"))
            .cast("long")
            .alias("n_dup_increment"),
            F.sum((F.col("verdict") == "novel").cast("int")).cast("long").alias("n_novel"),
            F.sum(
                F.when(F.col("verdict") == "novel", F.col("chunk_chars")).otherwise(0)
            )
            .cast("long")
            .alias("novel_chars"),
        )
        .withColumn(
            "saved_bp",
            F.expr("cast(10000 * (total_chars - novel_chars) div total_chars as bigint)"),
        )
    )
    # exactly one row per novel hash (its attribution owner's row)
    novel_rows = jj.filter(F.col("verdict") == "novel").select("chunk_hash", "chunk_chars")
    version = commit(novel_rows, store_path, op_label=op_label)
    if bucketed_probe:
        # mirror maintenance, O(novel): top the bucketed mirror up to
        # the just-committed version (append of the snapshot diff).
        # A crash before this line leaves a stale mirror the next
        # ingest's covering call heals — same contract as the Bloom.
        _bucketed_store_covering(spark, store_path, version, probe_buckets)
    if bloom_prefilter:
        # sidecar maintenance, O(novel): fold the just-committed rows
        # (read back via the manifest diff) into the state; crash
        # before this commit leaves a stale sidecar the next ingest's
        # healing path tops up (shared machinery with the fingerprint
        # index — dedup._bloom_state_covering / _commit_bloom_sidecar)
        from ocr_application_spark.operators.dedup import _commit_bloom_sidecar
        from ocr_application_spark.operators.sketches import bloom_build, bloom_merge
        from ocr_application_spark.sources.snapshots import read_snapshot_diff

        new_state = None
        if versions and state is not None:
            try:
                added = read_snapshot_diff(spark, store_path, versions[-1], version)
                new_state = bloom_merge(
                    state.unionByName(
                        bloom_build(added, F.col("chunk_hash"), bloom_words, bloom_hashes)
                    )
                )
            except (ValueError, FileNotFoundError):
                pass  # diff range crossed a rewrite: rebuild below
        if new_state is None:
            new_state = bloom_build(
                read_snapshot(spark, store_path, version=version),
                F.col("chunk_hash"),
                bloom_words,
                bloom_hashes,
            )
        _commit_bloom_sidecar(new_state, store_path, version, bloom_words, bloom_hashes)
    return report, version


_CDC_INGEST_ORACLE = f"""
    with base as (
      select doc_id, text from documents where doc_id % 3 != 0
    ),
    inc as (
      select doc_id, text from documents where doc_id % 3 = 0
      union all
      select doc_id + 1000000 as doc_id, text from documents where doc_id % 7 = 0
    ),
    {_cdc_sel_sql("base", "b").lstrip()},
    {_cdc_sel_sql("inc", "i").lstrip()},
    store as (select distinct chunk_hash from bhashed),
    first as (
      select chunk_hash, doc_id as own_doc, chunk_no as own_no from (
        select chunk_hash, doc_id, chunk_no,
               row_number() over (partition by chunk_hash
                                  order by doc_id, chunk_no) as rn
        from ihashed) t
      where rn = 1
    ),
    v as (
      select h.doc_id, h.chunk_chars,
             case when s.chunk_hash is not null then 'known'
                  when h.doc_id = f.own_doc and h.chunk_no = f.own_no then 'novel'
                  else 'dup_in_increment' end as verdict
      from ihashed h
      left join store s using (chunk_hash)
      join first f using (chunk_hash)
    )
    select doc_id,
           cast(count(*) as bigint) as n_chunks,
           cast(sum(chunk_chars) as bigint) as total_chars,
           cast(sum(case when verdict = 'known' then 1 else 0 end) as bigint) as n_known,
           cast(sum(case when verdict = 'dup_in_increment' then 1 else 0 end) as bigint)
             as n_dup_increment,
           cast(sum(case when verdict = 'novel' then 1 else 0 end) as bigint) as n_novel,
           cast(sum(case when verdict = 'novel' then chunk_chars else 0 end) as bigint)
             as novel_chars,
           cast(10000 * (cast(sum(chunk_chars) as bigint)
                         - cast(sum(case when verdict = 'novel' then chunk_chars
                                         else 0 end) as bigint))
                // cast(sum(chunk_chars) as bigint) as bigint) as saved_bp
    from v group by doc_id
"""


@op("cdc_incremental_ingest", _CDC_INGEST_ORACLE)
def cdc_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: bootstrap the chunk store from the base crawl (doc_id %
    3 != 0), ingest the recrawl increment (remaining docs + shifted
    clones of %7==0 docs — the shared ingest-family fixture), return
    the increment's per-doc storage report. Clone docs re-reference
    every chunk ('known', saved_bp 10000); genuinely new docs split
    novel/dup by the fixture's own template overlap."""
    from ocr_application_spark.operators.snapshots_entry import (
        _base_inc,
        _bootstrap_then_recrawl,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base, inc = _base_inc(docs, "doc_id")
    return _bootstrap_then_recrawl(spark, cdc_store_ingest, "gate_cdc_store", base, inc)
