"""Perceptual hashing (dHash) + banded Hamming near-dup over multimodal
payloads.

The image-dedup shape: payload -> downsample to a tiny grid ->
difference hash -> banded LSH join on hash pieces -> Hamming-threshold
near-dup pairs. As in kernels_entry.py, decode is a STUB (codepoints
stand in for grayscale pixels — no image lib ships in this container);
everything downstream of decode is the real Spark machinery with real
cross-engine value checks, and a deployment swaps ONE line (the
pixel source) for PIL/cv2 bytes.

Hash spec (integer-exact by construction):
  * downsample: pixel idx (0-based) of an n-pixel payload falls in
    block k = idx*63 // n (7 rows x 9 cols = 63 blocks; every block is
    non-empty when n >= 63 — consecutive k's differ by <= 1). Each
    block keeps (sum, count) — BLOCK-MEAN downsampling, the resize
    analog, not point sampling (point samples re-roll under 1-pixel
    shifts; means move smoothly).
  * dHash bits: for each of the 7x8 horizontally adjacent block pairs,
    bit (k//9)*8 + k%9 is set iff mean(k) > mean(k+1), compared as
    exact integer cross-multiplication sum_a*len_b > sum_b*len_a —
    never a float mean. 56 bits, so every shift stays inside a signed
    bigint (bit 63 would wrap).
  * INVARIANCE, exact: a global brightness shift (+c on every pixel)
    cancels in the cross-multiplied compare ((s+c*l_a)*l_b vs
    (t+c*l_b)*l_a), so phash(bright(img)) == phash(img) BIT-FOR-BIT —
    measured and pinned, not approximate. Sparse speckle noise moves
    single block means -> Hamming 0-3 on the corpus.

The pair miner unions each payload with a derived bright+speckled twin
(the fixture has no natural visual near-dups — same precedent as the
sentence-split gate deriving sentence-ful text), bands the 56 bits
into 4x14, joins per band with a per-bucket posting cap (a solid-color
corpus would otherwise make one band value quadratic — the
_MAX_POSTING rule from dedup.py), and keeps pairs at Hamming <= 8.

Scale: hashing is one Arrow-batched kernel pass, O(payload bytes);
banding shuffles O(4*images) band rows; the pair join is
bucket-bounded, never all-pairs.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_PH_ROWS = 7
_PH_COLS = 9
_PH_NB = _PH_ROWS * _PH_COLS  # 63 blocks; payloads shorter than this skip
_PH_BANDS = 4
_PH_BANDBITS = 14  # 56 bits / 4 bands
_PH_BRIGHT = 25  # brightness-shift magnitude (exact invariance)
_PH_SPECKLE = 293  # every 293rd pixel painted 64 in the noisy twin
_PH_HAM = 8  # near-dup Hamming threshold
_PH_MAX_POSTING = 32  # band-bucket cap (skew guard)


def phash_py(px: list[int]) -> int | None:
    """Pure twin of the kernel: 56-bit block-mean dHash; None when the
    payload has fewer pixels than blocks."""
    n = len(px)
    if n < _PH_NB:
        return None
    sums = [0] * _PH_NB
    lens = [0] * _PH_NB
    for idx, p in enumerate(px):
        k = idx * _PH_NB // n
        sums[k] += p
        lens[k] += 1
    h = 0
    for k in range(_PH_NB - 1):
        if k % _PH_COLS == _PH_COLS - 1:
            continue  # no compare across row ends
        if sums[k] * lens[k + 1] > sums[k + 1] * lens[k]:
            h |= 1 << ((k // _PH_COLS) * (_PH_COLS - 1) + k % _PH_COLS)
    return h


def _variant_px(px: list[int], variant: int) -> list[int]:
    if variant == 0:
        return px
    out = [p + _PH_BRIGHT for p in px]
    if variant == 2:
        for i in range(0, len(out), _PH_SPECKLE):
            out[i] = 64
    return out


def _hashes(df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_px, ph0, ph1, ph2): the original,
    brightness-shifted, and bright+speckled hash per payload (docs
    shorter than the block count are dropped — hash undefined)."""
    schema = "doc_id long, n_px long, ph0 long, ph1 long, ph2 long"

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_px", "ph0", "ph1", "ph2")}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                px = [ord(c) for c in (text or "")]  # STUB decode
                if len(px) < _PH_NB:
                    continue
                out["doc_id"].append(doc_id)
                out["n_px"].append(len(px))
                for v in range(3):
                    out[f"ph{v}"].append(phash_py(_variant_px(px, v)))
            yield pd.DataFrame(out)

    return df.select("doc_id", "text").mapInPandas(kern, schema=schema)


# --- shared oracle scaffolding ------------------------------------------------
# pixels CTE: one row per (img variant, pixel) with the STUB decode +
# variant transform mirrored; blocks; 56-bit hash assembly
_PH_SQL_BASE = f"""
d as (
  select doc_id, text as t, length(text) as n
  from documents where length(text) >= {_PH_NB}
),
imgs as (
  select doc_id, 0 as variant from d
  union all select doc_id, 1 from d
  union all select doc_id, 2 from d
),
px as (
  select i.doc_id, i.variant,
         ((u.i - 1) * {_PH_NB}) // d.n as k,
         case when i.variant = 0 then unicode(substr(d.t, cast(u.i as int), 1))
              when i.variant = 2 and (u.i - 1) % {_PH_SPECKLE} = 0 then 64
              else unicode(substr(d.t, cast(u.i as int), 1)) + {_PH_BRIGHT}
         end as p
  from imgs i join d using (doc_id), unnest(range(1, d.n + 1)) u(i)
),
blk as (
  select doc_id, variant, k,
         cast(sum(p) as bigint) as s, cast(count(*) as bigint) as l
  from px group by 1, 2, 3
),
ph as (
  select a.doc_id, a.variant,
         cast(coalesce(sum(case when a.s * b.l > b.s * a.l
           then 1::bigint << cast((a.k // {_PH_COLS}) * {_PH_COLS - 1}
                                  + a.k % {_PH_COLS} as int)
           else 0 end), 0) as bigint) as phash
  from blk a join blk b
    on a.doc_id = b.doc_id and a.variant = b.variant and b.k = a.k + 1
   and a.k % {_PH_COLS} < {_PH_COLS - 1}
  group by 1, 2
)"""


@op(
    "multimodal_phash",
    f"""
    with {_PH_SQL_BASE.lstrip()}
    select d.doc_id, cast(d.n as bigint) as n_px,
           p0.phash as phash,
           cast(bit_count(xor(p0.phash, p1.phash)) as int) as ham_bright,
           cast(bit_count(xor(p0.phash, p2.phash)) as int) as ham_noise
    from d
    join ph p0 on p0.doc_id = d.doc_id and p0.variant = 0
    join ph p1 on p1.doc_id = d.doc_id and p1.variant = 1
    join ph p2 on p2.doc_id = d.doc_id and p2.variant = 2
    """,
)
def multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload perceptual hash + the two invariance probes:
    ham_bright MUST be 0 (exact brightness invariance of the
    cross-multiplied compare — the oracle recomputes all three hashes
    from scratch in SQL and agrees bit-for-bit) and ham_noise stays
    small (block means absorb sparse speckles)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = _hashes(d)
    return h.select(
        "doc_id",
        "n_px",
        F.col("ph0").alias("phash"),
        F.bit_count(F.col("ph0").bitwiseXOR(F.col("ph1"))).cast("int").alias("ham_bright"),
        F.bit_count(F.col("ph0").bitwiseXOR(F.col("ph2"))).cast("int").alias("ham_noise"),
    )


def _band(col, b: int):
    return (F.shiftright(col, b * _PH_BANDBITS)) % F.lit(1 << _PH_BANDBITS)


_PH_PAIRS_ORACLE = f"""
    with {_PH_SQL_BASE.lstrip()},
    cat as (
      select doc_id * 2 as img_id, phash from ph where variant = 0
      union all
      select doc_id * 2 + 1, phash from ph where variant = 2
    ),
    bands as (
      select img_id, phash, b.b as band_no,
             (phash >> cast(b.b * {_PH_BANDBITS} as int)) % {1 << _PH_BANDBITS}
               as band_val
      from cat, unnest(range(0, {_PH_BANDS})) b(b)
    ),
    ok as (
      select band_no, band_val from bands
      group by 1, 2 having count(*) <= {_PH_MAX_POSTING}
    ),
    cand as (
      select distinct a.img_id as img_a, b.img_id as img_b,
             cast(bit_count(xor(a.phash, b.phash)) as int) as hamming
      from bands a
      join ok using (band_no, band_val)
      join bands b on a.band_no = b.band_no and a.band_val = b.band_val
                  and a.img_id < b.img_id
    )
    select img_a, img_b, hamming from cand where hamming <= {_PH_HAM}
"""


@op("multimodal_phash_pairs", _PH_PAIRS_ORACLE)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup pairs over the doubled corpus (each
    payload + its derived bright/speckled twin): 4x14-bit bands, per-
    bucket posting cap (skew guard — recall dial documented), exact
    bit_count Hamming filter. Twin pairs land at Hamming 0-3, so the
    miner provably finds them; unrelated payloads sit near 28 and
    never survive."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = _hashes(d)
    cat = h.select((F.col("doc_id") * 2).alias("img_id"), F.col("ph0").alias("phash")).unionByName(
        h.select((F.col("doc_id") * 2 + 1).alias("img_id"), F.col("ph2").alias("phash"))
    )
    bands = cat.select(
        "img_id",
        "phash",
        F.posexplode(
            F.array(*[_band(F.col("phash"), b) for b in range(_PH_BANDS)])
        ).alias("band_no", "band_val"),
    )
    ok = (
        bands.groupBy("band_no", "band_val")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= _PH_MAX_POSTING)
        .select("band_no", "band_val")
    )
    a = bands.join(ok, ["band_no", "band_val"]).select(
        "band_no", "band_val", F.col("img_id").alias("img_a"), F.col("phash").alias("ph_a")
    )
    b = bands.select(
        "band_no", "band_val", F.col("img_id").alias("img_b"), F.col("phash").alias("ph_b")
    )
    cand = (
        a.join(b, ["band_no", "band_val"])
        .filter(F.col("img_a") < F.col("img_b"))
        .select(
            "img_a",
            "img_b",
            F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= _PH_HAM)
