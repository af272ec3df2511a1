"""Driver-gate query for the snapshot MERGE/upsert lifecycle.

``snapshot_merge_upsert`` drives the REAL snapshot machinery end-to-end
inside one gate query — commit a base table, ``merge_pages`` an update
set (matched keys replaced copy-on-write, new keys appended), read the
latest snapshot back — and the DuckDB oracle reconstructs the expected
table algebraically (anti-join + union), so the manifest planning, the
affected-file detection and the survivor rewrite are all value-checked,
not just pytest-pinned (reference analog: recrawl upsert into the
pages store; see SURVEY.md §2 S7 topic/DDL management).

Deterministic + hermetic: the scratch table is rebuilt from the
documents fixture on every call (same inputs -> same bytes), and lives
under the gitignored scratch root.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _base_inc(df: DataFrame, id_col: str):
    """The shared base/increment split for the three ingest-gate queries,
    mirrored VERBATIM in each oracle's ``base``/``inc`` CTEs: base =
    ids % 3 != 0; increment = the remaining ids plus re-crawled clones
    of the % 7 == 0 rows (same payload, id shifted by 1_000_000 so the
    id spaces are disjoint). Changing any constant here requires the
    same edit in all three oracle CTE pairs."""
    others = [c for c in df.columns if c != id_col]
    base = df.filter(F.col(id_col) % 3 != 0)
    # both union branches project (id, *others) explicitly: unionAll is
    # positional, so relying on the caller's column order would silently
    # cross-assign id and payload for an (payload, id)-shaped frame
    inc = df.filter(F.col(id_col) % 3 == 0).select(id_col, *others).unionAll(
        df.filter(F.col(id_col) % 7 == 0).select(
            (F.col(id_col) + 1000000).alias(id_col), *others
        )
    )
    return base, inc


def _bootstrap_then_recrawl(spark, ingest_fn, scratch_name: str, base, inc):
    """Drive one ingest family end-to-end on a fresh scratch index:
    bootstrap commit from the base crawl, then the recrawl increment;
    return the increment's verdicts (the gate-compared frame)."""
    from ocr_application_spark.sources.webpages import default_scratch

    idx = os.path.join(default_scratch(), scratch_name)
    shutil.rmtree(idx, ignore_errors=True)
    ingest_fn(spark, idx, base, op_label="bootstrap")
    verdicts, _v = ingest_fn(spark, idx, inc, op_label="recrawl")
    return verdicts

_ORACLE = """
with base as (
  select doc_id, substr(text, 1, 40) as payload, 'base' as src
  from documents where doc_id % 4 != 3
),
upd as (
  select doc_id, 'U:' || substr(text, 1, 20) as payload, 'upd' as src
  from documents where doc_id % 8 in (0, 3)
)
select doc_id, payload, src from base
where doc_id not in (select doc_id from upd)
union all
select doc_id, payload, src from upd
"""


def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit base rows (doc_id % 4 != 3), merge updates whose keys are
    doc_id % 8 in {0, 3} — %8==0 rows exist in base (matched -> replaced
    copy-on-write), %8==3 rows do not (appended) — then read the merged
    snapshot. The oracle computes the same table with pure SQL."""
    from ocr_application_spark.sources.snapshots import (
        commit,
        merge_pages,
        read_snapshot,
    )
    from ocr_application_spark.sources.webpages import default_scratch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 3).select(
        "doc_id",
        F.substring("text", 1, 40).alias("payload"),
        F.lit("base").alias("src"),
    )
    upd = docs.filter((F.col("doc_id") % 8).isin(0, 3)).select(
        "doc_id",
        F.concat(F.lit("U:"), F.substring("text", 1, 20)).alias("payload"),
        F.lit("upd").alias("src"),
    )
    tbl = os.path.join(default_scratch(), "gate_merge_upsert")
    shutil.rmtree(tbl, ignore_errors=True)
    # two base commits -> several files, so the merge exercises the
    # copy-on-write split (some files rewritten, some carried verbatim)
    commit(base.filter(F.col("doc_id") % 2 == 0), tbl)
    commit(base.filter(F.col("doc_id") % 2 == 1), tbl)
    merge_pages(spark, tbl, upd, key=("doc_id",))
    return read_snapshot(spark, tbl)


op("snapshot_merge_upsert", _ORACLE)(snapshot_merge_upsert)


_INGEST_ORACLE = """
with base as (
  select doc_id, text from documents where doc_id % 3 != 0
),
inc as (
  select doc_id, text from documents where doc_id % 3 = 0
  union all
  select doc_id + 1000000 as doc_id, text from documents where doc_id % 7 = 0
),
idx as (
  select md5(coalesce(text, '')) as fingerprint, min(doc_id) as idx_keeper
  from base group by md5(coalesce(text, ''))
),
fps as (select doc_id, md5(coalesce(text, '')) as fingerprint from inc),
keep as (
  select fingerprint, min(doc_id) as keeper_doc_id from fps group by fingerprint
)
select f.doc_id, f.fingerprint,
       case when coalesce(i.idx_keeper, k.keeper_doc_id) = f.doc_id then 'novel'
            when coalesce(i.idx_keeper, k.keeper_doc_id) = k.keeper_doc_id
                 then 'dup_in_increment'
            else 'known' end as verdict
from fps f
join keep k on f.fingerprint = k.fingerprint
left join idx i on i.fingerprint = f.fingerprint
"""


def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl ingest dedup, end-to-end through the REAL snapshot
    machinery: bootstrap the corpus fingerprint index from a base crawl
    (doc_id % 3 != 0), then ingest an increment containing (a) the
    remaining docs and (b) re-crawled clones of base docs (doc_id % 7 ==
    0, shifted ids, same bytes) — so all three verdict classes occur:
    clones of base docs are 'known', clones of in-increment docs are
    'dup_in_increment', the rest split novel/dup by the fixture's own
    duplicate texts. The oracle reconstructs the verdicts algebraically,
    so the index commit, version pinning and anti-join are value-checked
    (library op: ``operators/dedup.fingerprint_index_ingest``)."""
    from ocr_application_spark.operators.dedup import fingerprint_index_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base, inc = _base_inc(docs, "doc_id")
    return _bootstrap_then_recrawl(
        spark, fingerprint_index_ingest, "gate_fp_index", base, inc
    )


op("dedup_incremental_ingest", _INGEST_ORACLE)(dedup_incremental_ingest)


def _minhash_ingest_oracle() -> str:
    from ocr_application_spark.operators.dedup import (
        _MINHASH_SIGS_SQL,
        _band_union_sql,
        _shingles_sql,
    )

    return f"""
with base as (
  select doc_id, text from documents where doc_id % 3 != 0
),
inc as (
  select doc_id, text from documents where doc_id % 3 = 0
  union all
  select doc_id + 1000000 as doc_id, text from documents where doc_id % 7 = 0
),
bsh as ({_shingles_sql("base")}),
ish as ({_shingles_sql("inc")}),
bsigs as (select doc_id, {_MINHASH_SIGS_SQL} from bsh group by doc_id),
isigs as (select doc_id, {_MINHASH_SIGS_SQL} from ish group by doc_id),
bbuck as ({_band_union_sql("bsigs")}),
ibuck as ({_band_union_sql("isigs")}),
bdrop as (
  -- the bootstrap ingest retains only docs with NO lower-id band
  -- collision within base ('novel' at bootstrap); dropped docs never
  -- enter the index
  select distinct a.doc_id from bbuck a
  join bbuck b on a.band_id = b.band_id and a.sig_a = b.sig_a
              and a.sig_b = b.sig_b and b.doc_id < a.doc_id
),
bret as (
  select * from bbuck where doc_id not in (select doc_id from bdrop)
),
known as (
  -- corpus evidence: RETAINED index rows of any OTHER doc (the
  -- self-row exclusion is vacuous here since base/inc ids are
  -- disjoint, mirrored verbatim from the operator)
  select distinct i.doc_id from ibuck i
  join bret b on i.band_id = b.band_id and i.sig_a = b.sig_a and i.sig_b = b.sig_b
  where b.doc_id <> i.doc_id
),
incdup as (
  select distinct a.doc_id from ibuck a
  join ibuck b on a.band_id = b.band_id and a.sig_a = b.sig_a
              and a.sig_b = b.sig_b and b.doc_id < a.doc_id
)
select i.doc_id,
       -- operator precedence: self-retained (vacuous here) -> in-batch
       -- dup -> corpus near-dup -> novel
       case when i.doc_id in (select doc_id from bret) then 'novel'
            when d.doc_id is not null then 'neardup_in_increment'
            when k.doc_id is not null then 'known_neardup'
            else 'novel' end as verdict
from (select distinct doc_id from inc) i
left join known k on k.doc_id = i.doc_id
left join incdup d on d.doc_id = i.doc_id
"""


def neardup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup recrawl ingest through the real snapshot machinery (the
    LSH sibling of ``dedup_incremental_ingest``): bootstrap the corpus
    MinHash band-bucket index from the base crawl, ingest an increment
    holding re-crawled clones of base docs ('known_neardup') and clones
    of in-increment docs ('neardup_in_increment'), return the per-doc
    verdicts. The oracle rebuilds both sides' signatures, the collision
    sets and the precedence rule algebraically (library op:
    ``operators/dedup.minhash_index_ingest``)."""
    from ocr_application_spark.operators.dedup import minhash_index_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base, inc = _base_inc(docs, "doc_id")
    return _bootstrap_then_recrawl(
        spark, minhash_index_ingest, "gate_mh_index", base, inc
    )


op("neardup_incremental_ingest", _minhash_ingest_oracle())(neardup_incremental_ingest)


def _embedding_ingest_oracle() -> str:
    from ocr_application_spark.operators.similarity import (
        _NEARDUP_TAU,
        _N_PLANES,
        _QUANT_SQL,
        _dot_sql,
        _lsh_bit_sql,
    )

    bits = " + ".join(_lsh_bit_sql(k) for k in range(_N_PLANES))
    cos = (
        "cast({d} as double) / sqrt(cast({xn} as double) * cast({yn} as double))"
    )
    return f"""
with base as (
  select vec_id, embedding from embeddings where vec_id % 3 != 0
),
inc as (
  select vec_id, embedding from embeddings where vec_id % 3 = 0
  union all
  select vec_id + 1000000 as vec_id, embedding from embeddings where vec_id % 7 = 0
),
bq as (select vec_id, {_QUANT_SQL.format(c='embedding')} as qv from base),
bb as (select vec_id, qv, {_dot_sql('qv', 'qv')} as n, {bits} as bucket from bq),
iq as (select vec_id, {_QUANT_SQL.format(c='embedding')} as qv from inc),
ib as (select vec_id, qv, {_dot_sql('qv', 'qv')} as n, {bits} as bucket from iq),
bdrop as (
  -- the bootstrap ingest retains only vectors with NO lower-id
  -- above-tau bucket partner within base ('novel' at bootstrap);
  -- dropped vectors never enter the index
  select distinct a.vec_id from bb a
  join bb c on a.bucket = c.bucket and c.vec_id < a.vec_id
  where {cos.format(d=_dot_sql('a.qv', 'c.qv'), xn='a.n', yn='c.n')} >= {_NEARDUP_TAU}
),
bret as (
  select * from bb where vec_id not in (select vec_id from bdrop)
),
known as (
  -- corpus evidence: RETAINED index rows of any OTHER vector (the
  -- self-row exclusion is vacuous here since base/inc ids are
  -- disjoint, mirrored verbatim from the operator)
  select distinct x.vec_id from ib x
  join bret i on x.bucket = i.bucket
  where i.vec_id <> x.vec_id
    and {cos.format(d=_dot_sql('x.qv', 'i.qv'), xn='x.n', yn='i.n')} >= {_NEARDUP_TAU}
),
incdup as (
  select distinct a.vec_id from ib a
  join ib c on a.bucket = c.bucket and c.vec_id < a.vec_id
  where {cos.format(d=_dot_sql('a.qv', 'c.qv'), xn='a.n', yn='c.n')} >= {_NEARDUP_TAU}
)
select i.vec_id,
       -- operator precedence: self-retained (vacuous here) -> in-batch
       -- dup -> corpus near-dup -> novel
       case when i.vec_id in (select vec_id from bret) then 'novel'
            when d.vec_id is not null then 'neardup_in_increment'
            when k.vec_id is not null then 'known_neardup'
            else 'novel' end as verdict
from (select distinct vec_id from inc) i
left join known k on k.vec_id = i.vec_id
left join incdup d on d.vec_id = i.vec_id
"""


def semantic_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC recrawl ingest through the real snapshot machinery (the
    embedding sibling of the exact/minhash ingest gates): bootstrap the
    corpus vector index from the base vectors, ingest an increment
    holding re-crawled clones of base vectors (cosine exactly 1 ->
    'known_neardup') and clones of in-increment vectors
    ('neardup_in_increment'), return the per-vector verdicts. The
    oracle rebuilds the quantization, sign-LSH buckets, integer-exact
    cosines and the precedence rule algebraically (library op:
    ``operators/similarity.embedding_index_ingest``)."""
    from ocr_application_spark.operators.similarity import embedding_index_ingest

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base, inc = _base_inc(e, "vec_id")
    return _bootstrap_then_recrawl(
        spark, embedding_index_ingest, "gate_emb_index", base, inc
    )


op("semantic_incremental_ingest", _embedding_ingest_oracle())(semantic_incremental_ingest)


def _winnow_ingest_oracle() -> str:
    from ocr_application_spark.operators.dedup import (
        _WINNOW_MAX_POSTING,
        _WINNOW_MIN_SHARED,
        _WINNOW_POSM,
        _winnow_sel_sql,
    )

    ms, cap = _WINNOW_MIN_SHARED, _WINNOW_MAX_POSTING
    return f"""
with base as (
  select doc_id, text from documents where doc_id % 3 != 0
),
inc as (
  select doc_id, text from documents where doc_id % 3 = 0
  union all
  select doc_id + 1000000 as doc_id, text from documents where doc_id % 7 = 0
),
{_winnow_sel_sql("base", "b").lstrip()},
{_winnow_sel_sql("inc", "i").lstrip()},
bfp as (select distinct doc_id, sk // {_WINNOW_POSM} as fp_hash from b_fps),
ifp as (select distinct doc_id, sk // {_WINNOW_POSM} as fp_hash from i_fps),
b_elig as (
  -- in-batch df cap, mirrored from the operator's eligible_inc
  select * from bfp where fp_hash in (
    select fp_hash from bfp group by fp_hash having count(*) <= {cap})
),
b_drop as (
  -- bootstrap retains only docs with no >= min_shared lower-id pair
  select distinct doc_id from (
    select a.doc_id as doc_id, b.doc_id as other, count(*) as n
    from b_elig a join b_elig b
      on a.fp_hash = b.fp_hash and b.doc_id < a.doc_id
    group by 1, 2
  ) where n >= {ms}
),
bret as (select * from bfp where doc_id not in (select doc_id from b_drop)),
midx as (
  -- every retained-index posting of a hash the increment holds, so
  -- the df below is the hash's TRUE index df (operator comment)
  select * from bret where fp_hash in (select distinct fp_hash from ifp)
),
m_elig as (
  select * from midx where fp_hash in (
    select fp_hash from midx group by fp_hash having count(*) <= {cap})
),
known as (
  select distinct doc_id from (
    select x.doc_id as doc_id, i.doc_id as other, count(*) as n
    from ifp x join m_elig i
      on x.fp_hash = i.fp_hash and i.doc_id <> x.doc_id
    group by 1, 2
  ) where n >= {ms}
),
i_elig as (
  select * from ifp where fp_hash in (
    select fp_hash from ifp group by fp_hash having count(*) <= {cap})
),
incdup as (
  select distinct doc_id from (
    select a.doc_id as doc_id, b.doc_id as other, count(*) as n
    from i_elig a join i_elig b
      on a.fp_hash = b.fp_hash and b.doc_id < a.doc_id
    group by 1, 2
  ) where n >= {ms}
)
select i.doc_id,
       -- operator precedence: self-retained (vacuous here: base/inc id
       -- spaces are disjoint) -> in-batch overlap -> corpus overlap ->
       -- novel
       case when i.doc_id in (select doc_id from bret) then 'novel'
            when d.doc_id is not null then 'overlap_in_increment'
            when k.doc_id is not null then 'known_overlap'
            else 'novel' end as verdict
from (select distinct doc_id from inc) i
left join known k on k.doc_id = i.doc_id
left join incdup d on d.doc_id = i.doc_id
"""


def overlap_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-overlap recrawl ingest through the real snapshot
    machinery (the winnowing sibling of the exact/minhash/semantic
    ingest gates): bootstrap the corpus winnowing-fingerprint index
    from the base crawl, ingest an increment holding re-crawled clones
    of base docs (full fingerprint overlap -> 'known_overlap') and
    clones of in-increment docs ('overlap_in_increment'), return the
    per-doc verdicts. The oracle rebuilds both sides' winnowed
    selections, the df-capped pairwise evidence and the precedence
    rule algebraically (library op:
    ``operators/dedup.winnow_index_ingest``)."""
    from ocr_application_spark.operators.dedup import winnow_index_ingest

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base, inc = _base_inc(docs, "doc_id")
    return _bootstrap_then_recrawl(
        spark, winnow_index_ingest, "gate_win_index", base, inc
    )


op("overlap_incremental_ingest", _winnow_ingest_oracle())(overlap_incremental_ingest)


_DELETE_ORACLE = """
with base as (
  select doc_id, substr(text, 1, 40) as payload
  from documents where doc_id % 4 != 3
)
select doc_id, payload from base where doc_id % 5 != 1
"""


def snapshot_delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit base rows across two files, copy-on-write DELETE the
    doc_id % 5 == 1 keys plus a batch of keys NOT in the table (the
    no-op half must change nothing), then read the latest snapshot.
    The oracle is the plain residual filter — agreement proves the
    affected-file detection, the survivor rewrite and the no-op
    behavior (library op: ``sources/snapshots.delete_pages``)."""
    from ocr_application_spark.sources.snapshots import (
        commit,
        delete_pages,
        read_snapshot,
    )
    from ocr_application_spark.sources.webpages import default_scratch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 4 != 3).select(
        "doc_id", F.substring("text", 1, 40).alias("payload")
    )
    tbl = os.path.join(default_scratch(), "gate_delete_rows")
    shutil.rmtree(tbl, ignore_errors=True)
    commit(base.filter(F.col("doc_id") % 2 == 0), tbl)
    commit(base.filter(F.col("doc_id") % 2 == 1), tbl)
    hit = docs.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    miss = docs.select((F.col("doc_id") + 5_000_000).alias("doc_id"))
    delete_pages(spark, tbl, hit.unionByName(miss), key=("doc_id",))
    # pure-miss second delete: must be a NO-OP (no new version)
    from ocr_application_spark.sources.snapshots import snapshot_versions

    v_before = snapshot_versions(tbl)[-1]
    v_after = delete_pages(spark, tbl, miss, key=("doc_id",))
    assert v_after == v_before, (v_before, v_after)
    return read_snapshot(spark, tbl)


op("snapshot_delete_rows", _DELETE_ORACLE)(snapshot_delete_rows)


_ZORDER_ORACLE = """
with base as (
  select doc_id,
         doc_id % 97 as x,
         (doc_id * 7) % 89 as y,
         substr(text, 1, 20) as payload
  from documents
)
select doc_id, x, y, payload from base
where x between 10 and 15 and y between 30 and 60
"""


def snapshot_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit a hash-distributed table, z-order-cluster it on (x, y),
    then zone-map-scan a 2-d range. The oracle is the plain filter —
    agreement proves the rewrite reorders without losing or inventing
    rows and the pruned scan keeps every qualifying row. Pruning itself
    is asserted in-query: the clustered layout must skip files on BOTH
    dimensions (library op: ``sources/snapshots.cluster_snapshot``)."""
    from ocr_application_spark.sources.snapshots import (
        cluster_snapshot,
        commit,
        plan_scan,
        scan_snapshot,
    )
    from ocr_application_spark.sources.webpages import default_scratch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % 97).alias("x"),
        ((F.col("doc_id") * 7) % 89).alias("y"),
        F.substring("text", 1, 20).alias("payload"),
    )
    tbl = os.path.join(default_scratch(), "gate_zorder")
    shutil.rmtree(tbl, ignore_errors=True)
    commit(base.repartition(16, "doc_id"), tbl)
    cluster_snapshot(spark, tbl, ["x", "y"], target_files=16)
    for c in ("x", "y"):
        p = plan_scan(tbl, {c: (10, 15)})
        assert p["skipped"] > 0, (c, p)  # layout must localize BOTH dims
    return scan_snapshot(spark, tbl, {"x": (10, 15), "y": (30, 60)})


op("snapshot_zorder_scan", _ZORDER_ORACLE)(snapshot_zorder_scan)


_WAP_ORACLE = """
with base as (
  select doc_id, substr(text, 1, 40) as payload, 'base' as src
  from documents where doc_id % 3 != 0
),
staged as (
  select doc_id, substr(text, 1, 40) as payload, 'staged' as src
  from documents where doc_id % 3 = 0
)
select doc_id, payload, src from base
union all
select doc_id, payload, src from staged
"""


def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish over the snapshot refs layer: commit a base
    table, stage an increment on an ``audit`` branch (asserting in-query
    that main readers see NONE of it — the audit isolation that makes
    WAP safe), then ``publish_branch`` fast-forwards main and the final
    read must equal base ∪ staged. The oracle reconstructs that union
    algebraically, so branch commit parenting, ref resolution and the
    fast-forward publish are all value-checked (library ops:
    ``sources/snapshots.create_branch`` / ``commit(branch=...)`` /
    ``publish_branch``)."""
    from ocr_application_spark.sources.snapshots import (
        commit,
        create_branch,
        publish_branch,
        read_snapshot,
    )
    from ocr_application_spark.sources.webpages import default_scratch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rows = docs.select("doc_id", F.substring("text", 1, 40).alias("payload"))
    base = rows.filter(F.col("doc_id") % 3 != 0).withColumn("src", F.lit("base"))
    staged = rows.filter(F.col("doc_id") % 3 == 0).withColumn("src", F.lit("staged"))
    tbl = os.path.join(default_scratch(), "gate_wap_publish")
    shutil.rmtree(tbl, ignore_errors=True)
    commit(base, tbl)
    n_main = read_snapshot(spark, tbl).count()
    create_branch(tbl, "audit")
    commit(staged, tbl, branch="audit")
    # audit isolation: the staged commit must not be visible on main
    assert read_snapshot(spark, tbl).count() == n_main, "staged rows leaked to main"
    publish_branch(tbl, "audit")
    return read_snapshot(spark, tbl)


op("snapshot_wap_publish", _WAP_ORACLE)(snapshot_wap_publish)


# --- corpus drift report between two snapshot versions ------------------------
#
# The dataset-QA op a 100 TB training pipeline runs after every ingest
# wave: did this crawl shift the corpus mix? Computed from TWO VERSIONS
# OF THE SAME TABLE via time travel — no copy of the old corpus is kept,
# the manifest log IS the history. Per language: exact token counts in
# both versions, smoothed shares in ppm, the share delta, and the
# per-language term of KL(v2 || v1) in integer micro-nats.
#
# Cross-engine exactness: token counts are exact integers; the smoothed
# probabilities p = (tok + 1) / (N + L) are single IEEE divisions of
# exact integers; every published number quantizes those doubles with
# ONE canonical op sequence mirrored verbatim in the oracle
# (cast(round(1e6 * ..., 0) as bigint)) — the lm.py micro-nat
# discipline, so no raw float ever crosses engines and nothing can
# overflow at any corpus size (shares and KL terms are bounded, counts
# stay raw bigint sums).
#
# Scale shape: one map-side-combined sum per (version, lang) — shuffle
# O(languages) — then a tiny outer join + cross-joined totals, all
# broadcast. The v1 aggregate in production runs over the time-travel
# scan, which plans ONLY v1's data files from the manifest; nothing
# rescans v2 to reconstruct the past.

_DRIFT_ORACLE = """
with v1 as (
  select lang, cast(sum(len(string_split(text, ' '))) as bigint) as tok
  from documents where doc_id % 3 != 0 group by lang
),
v2 as (
  select lang, cast(sum(len(string_split(text, ' '))) as bigint) as tok
  from documents group by lang
),
tot as (
  select (select cast(sum(tok) as bigint) from v1) as n1,
         (select cast(sum(tok) as bigint) from v2) as n2,
         (select cast(count(*) as bigint) from v2) as nl
),
j as (
  select coalesce(v2.lang, v1.lang) as lang,
         coalesce(v1.tok, 0) as tok_v1,
         coalesce(v2.tok, 0) as tok_v2,
         n1, n2, nl
  from v2 full outer join v1 on v1.lang = v2.lang, tot
)
select lang, tok_v1, tok_v2,
       cast(round(1e6 * (cast(tok_v1 + 1 as double) / cast(n1 + nl as double)), 0)
            as bigint) as share_v1_ppm,
       cast(round(1e6 * (cast(tok_v2 + 1 as double) / cast(n2 + nl as double)), 0)
            as bigint) as share_v2_ppm,
       cast(round(1e6 * (cast(tok_v2 + 1 as double) / cast(n2 + nl as double)), 0)
            as bigint)
       - cast(round(1e6 * (cast(tok_v1 + 1 as double) / cast(n1 + nl as double)), 0)
              as bigint) as delta_ppm,
       cast(round(1e6 * (cast(tok_v2 + 1 as double) / cast(n2 + nl as double))
                      * ln((cast(tok_v2 + 1 as double) / cast(n2 + nl as double))
                           / (cast(tok_v1 + 1 as double) / cast(n1 + nl as double))),
                  0) as bigint) as kl_term_micronat
from j
"""


def snapshot_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit the corpus in two waves ((doc_id, lang, n_tokens) rows:
    doc_id % 3 != 0, then the rest), time-travel-read v1 against the
    head, and report per-language drift. The oracle reconstructs both
    versions algebraically from ``documents``, so the manifest-planned
    v1 scan, the append isolation and the quantized drift arithmetic
    are all value-checked (library ops: ``sources/snapshots.commit`` /
    ``read_snapshot(version=...)``)."""
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        snapshot_versions,
    )
    from ocr_application_spark.sources.webpages import default_scratch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    tbl = os.path.join(default_scratch(), "gate_drift_report")
    shutil.rmtree(tbl, ignore_errors=True)
    commit(rows.filter(F.col("doc_id") % 3 != 0), tbl)
    commit(rows.filter(F.col("doc_id") % 3 == 0), tbl)
    v1 = snapshot_versions(tbl)[0]

    def _agg(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("lang").agg(F.sum("n_tokens").alias(out))

    a1 = _agg(read_snapshot(spark, tbl, version=v1), "tok_v1")
    a2 = _agg(read_snapshot(spark, tbl), "tok_v2")
    tot = a1.agg(F.sum("tok_v1").alias("n1")).crossJoin(
        # one pass over the head aggregate for both totals — a second
        # .agg would re-scan the committed table
        a2.agg(
            F.sum("tok_v2").alias("n2"),
            F.count("*").cast("long").alias("nl"),
        )
    )
    j = (
        a2.join(a1, "lang", "full_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.coalesce("tok_v1", F.lit(0)).alias("tok_v1"),
            F.coalesce("tok_v2", F.lit(0)).alias("tok_v2"),
            "n1",
            "n2",
            "nl",
        )
    )
    # ONE canonical IEEE op sequence, mirrored verbatim in the oracle
    p1 = (F.col("tok_v1") + 1).cast("double") / (F.col("n1") + F.col("nl")).cast("double")
    p2 = (F.col("tok_v2") + 1).cast("double") / (F.col("n2") + F.col("nl")).cast("double")
    s1 = F.round(F.lit(1e6) * p1, 0).cast("bigint")
    s2 = F.round(F.lit(1e6) * p2, 0).cast("bigint")
    return j.select(
        "lang",
        "tok_v1",
        "tok_v2",
        s1.alias("share_v1_ppm"),
        s2.alias("share_v2_ppm"),
        (s2 - s1).alias("delta_ppm"),
        F.round(F.lit(1e6) * p2 * F.log(p2 / p1), 0)
        .cast("bigint")
        .alias("kl_term_micronat"),
    )


op("snapshot_drift_report", _DRIFT_ORACLE)(snapshot_drift_report)
