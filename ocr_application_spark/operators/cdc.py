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

``cdc_store_ingest`` keeps the chunks across crawls: a content-
addressed store of distinct chunk hashes, probed by one left join
against the store's latest snapshot, so a recrawl appends only the
chunks the store has never seen.

Integer-exact by spec: chunk hashes are 40-bit md5 slices (conv in
Spark == '0x'||substr cast in DuckDB — the winnowing convention);
shared ratios are basis points via integer division of non-negative
bigints (floor == truncate when non-negative, the div-vs-// rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.dedup import _gram_hash_sql, _with_code_points
from ocr_application_spark.operators.registry import op

_CDC_K = 8  # rolling-window gram width (chars)
_CDC_MASK = 32  # boundary when gram-hash % 32 == 0 -> mean chunk ~ 40 chars


def cdc_chunks(df: DataFrame) -> DataFrame:
    """Per-document CDC chunks of a (doc_id, text) frame -> (doc_id,
    chunk_no, chunk_chars, chunk_hash), one row per non-empty chunk,
    chunk_no 1-based in document order. Docs shorter than the gram width (or empty) form a
    single chunk when non-empty, none when empty. Array-side: boundary
    selection, start/end pairing and slicing all run inside one
    projection; only final chunks become rows."""
    k, m = _CDC_K, _CDC_MASK
    t = F.lower(F.coalesce(F.col("text"), F.lit("")))
    d = df.select("doc_id", t.alias("t")).filter(F.length("t") >= 1)
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
# references. The store is probed by a left join of the increment's
# chunks against the distinct chunk_hash column of its pre-commit
# snapshot: O(store) bytes of bigint keys exchanged once per ingest, a
# few seconds at sf1; a hash-bucketed layout that skips the exchange
# measured at parity there (PERF.md §7c).
#
# Attribution is deterministic: a hash novel to the store is charged
# to its FIRST holder in the increment (min (doc_id, chunk_no));
# later holders count it as 'dup_in_increment', store hits as
# 'known'. Replay-stable like the sibling ingests: re-ingesting the
# same batch finds every hash in the store -> zero new bytes.
#
# Verdicts are computed once per call: one plan chunks the increment,
# probes the store and takes the first holder with a window over the
# probe's chunk_hash partitioning, and its per-chunk rows are cached.
# The novel-row commit and the per-doc report both read that cache, so
# the report's collect() is one aggregate over cached rows, not a
# second pass through chunk ⋈ store ⋈ owner (jobs per call: PERF.md
# §7d). The window sends every holder of one hash to one task, with no
# map-side combine: a hot boilerplate hash is one task's sort (sf1
# all-dup replay in PERF.md §7c).


def cdc_store_ingest(
    spark: SparkSession,
    store_path: str,
    docs: DataFrame,
    *,
    op_label: str = "cdc-ingest",
) -> tuple[DataFrame, int]:
    """Ingest ``docs`` (``doc_id``, ``text``) against the
    content-addressed chunk store at ``store_path``; append never-seen
    (chunk_hash, chunk_chars) rows; return (per-doc report, committed
    version). Report columns:
    (doc_id, n_chunks, total_chars, n_known, n_dup_increment, n_novel,
    novel_chars, saved_bp).

    The store is probed at its pre-commit snapshot version, so a report
    materialized after the commit still reads the store as it was
    (this ingest's own novel chunks never flip to 'known'), and any
    commit mode before it — append or a rewrite such as
    ``overwrite_partitions`` — is seen exactly as the snapshot lists
    it. The per-chunk verdicts (doc_id, chunk_hash, chunk_chars,
    verdict) are held in one ``bounded_cache`` slot that both the
    commit and the report read, and which the next call frees:
    repeated ingests in one session keep one cached copy, not one per
    call. A report collected after its slot is freed recomputes the
    same rows from the docs and the pinned snapshot."""
    from ocr_application_spark.session import bounded_cache
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        snapshot_versions,
    )

    ch = cdc_chunks(docs)
    known = F.lit(False)
    versions = snapshot_versions(store_path)
    if versions:
        store = (
            read_snapshot(spark, store_path, version=versions[-1])
            .select("chunk_hash", F.lit(True).alias("in_store"))
            .distinct()
        )
        ch = ch.join(store, "chunk_hash", "left")
        known = F.col("in_store").isNotNull()
    owner = F.col("o")
    verdict = (
        F.when(known, F.lit("known"))
        .when(
            (F.col("doc_id") == owner["doc_id"]) & (F.col("chunk_no") == owner["chunk_no"]),
            F.lit("novel"),
        )
        .otherwise(F.lit("dup_in_increment"))
    )
    verdicts = ch.withColumn(
        "o", F.min(F.struct("doc_id", "chunk_no")).over(Window.partitionBy("chunk_hash"))
    ).select("doc_id", "chunk_hash", "chunk_chars", verdict.alias("verdict"))
    # A cached plan is planned when persist() runs, by default with AQE
    # barred from changing its partitioning: the window's shuffle would
    # keep spark.sql.shuffle.partitions partitions and every commit would
    # write that many files. Allowing it for this one persist lets AQE
    # coalesce them to its advisory size, as for an uncached write. The
    # flag only decides how a cache is partitioned, never its rows.
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        v = bounded_cache(verdicts, "cdc_store_ingest")
    finally:
        spark.conf.set(key, prev)
    is_novel = F.col("verdict") == "novel"
    # one row per novel hash: its owner's row (two only if doc_ids repeat)
    version = commit(
        v.filter(is_novel).select("chunk_hash", "chunk_chars"), store_path, op_label=op_label
    )
    report = (
        v.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("chunk_chars").cast("long").alias("total_chars"),
            F.sum((F.col("verdict") == "known").cast("int")).cast("long").alias("n_known"),
            F.sum((F.col("verdict") == "dup_in_increment").cast("int"))
            .cast("long")
            .alias("n_dup_increment"),
            F.sum(is_novel.cast("int")).cast("long").alias("n_novel"),
            F.sum(F.when(is_novel, F.col("chunk_chars")).otherwise(0))
            .cast("long")
            .alias("novel_chars"),
        )
        .withColumn(
            "saved_bp",
            F.expr("cast(10000 * (total_chars - novel_chars) div total_chars as bigint)"),
        )
    )
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
