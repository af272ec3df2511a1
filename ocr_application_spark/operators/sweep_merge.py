"""W5: sorted sweep merge of overlapping boxes (grouped-map kernel).

The reference's merge_overlapping_boxes (extraction_service/app/ocr/
utils.py:25-45) sorts boxes by x and folds: if IoU(current, next) > 0.5
the boxes merge into their union. A sequential fold is not expressible
as a window function (each step depends on the merged result), so it
runs per document in ``applyInPandas`` — the sanctioned grouped-map
escape hatch; work stays per-document, one shuffle on doc_id. (Dead code
in the reference — never called — but part of the API surface per
SURVEY §2.5.)

Oracle-checked via a recursive-CTE twin of the fold (bottom of file)
+ deterministic unit tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ocr_application_spark.operators.fixtures import REGIONS_CTE, regions
from ocr_application_spark.operators.registry import op

IOU_MERGE = 0.5


def merge_sweep(boxes: list[tuple[float, float, float, float]]) -> list[tuple[float, float, float, float]]:
    """Pure fold: sort by (x0, y0, x1, y1); merge successive on IoU>0.5."""
    if not boxes:
        return []
    out: list[list[float]] = []
    for b in sorted(boxes):
        if out:
            c = out[-1]
            iw = max(0.0, min(c[2], b[2]) - max(c[0], b[0]))
            ih = max(0.0, min(c[3], b[3]) - max(c[1], b[1]))
            inter = iw * ih
            union = (c[2] - c[0]) * (c[3] - c[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
            if union > 0 and inter / union > IOU_MERGE:
                c[0], c[1] = min(c[0], b[0]), min(c[1], b[1])
                c[2], c[3] = max(c[2], b[2]), max(c[3], b[3])
                continue
        out.append(list(b))
    return [tuple(b) for b in out]


def w5_sweep_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged boxes per document over the regions fixture."""
    r = regions(spark, sf_dir).select("doc_id", "x0", "y0", "x1", "y1")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        doc = pdf["doc_id"].iloc[0]
        merged = merge_sweep(list(zip(pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"])))
        return pd.DataFrame(
            [(doc, i, *b) for i, b in enumerate(merged)],
            columns=["doc_id", "box_id", "x0", "y0", "x1", "y1"],
        )

    return r.groupBy("doc_id").applyInPandas(
        fold, schema="doc_id long, box_id int, x0 double, y0 double, x1 double, y1 double"
    )


# The sequential fold IS SQL-expressible after all — as a recursive CTE
# whose state is the list of merged boxes so far (one step per rank,
# max ~7 ranks/doc in the fixture). Verbose but exact: same sort key,
# same IoU>0.5 merge-with-last rule, same 0-based output index.
def _iou_gt_half(last: str, nb: str) -> str:
    inter = (
        f"(greatest(0, least({last}.x1, {nb}.x1) - greatest({last}.x0, {nb}.x0))"
        f" * greatest(0, least({last}.y1, {nb}.y1) - greatest({last}.y0, {nb}.y0)))"
    )
    union = (
        f"(({last}.x1 - {last}.x0) * ({last}.y1 - {last}.y0)"
        f" + ({nb}.x1 - {nb}.x0) * ({nb}.y1 - {nb}.y0) - {inter})"
    )
    return f"({inter} > 0 and {inter} / {union} > {IOU_MERGE})"


_LAST = "out[len(out)]"

_ORACLE = f"""
with recursive {REGIONS_CTE},
boxes as (
  select doc_id, cast(x0 as double) x0, cast(y0 as double) y0,
         cast(x1 as double) x1, cast(y1 as double) y1,
         row_number() over (partition by doc_id order by x0, y0, x1, y1) rn,
         count(*) over (partition by doc_id) n
  from regions
),
fold as (
  select doc_id, 1 as i, n, [struct_pack(x0:=x0, y0:=y0, x1:=x1, y1:=y1)] as out
  from boxes where rn = 1
  union all
  select f.doc_id, f.i + 1, f.n,
    case when {_iou_gt_half(_LAST, "nb")}
    then list_append(list_slice(out, 1, len(out) - 1),
           struct_pack(x0:=least({_LAST}.x0, nb.x0), y0:=least({_LAST}.y0, nb.y0),
                       x1:=greatest({_LAST}.x1, nb.x1), y1:=greatest({_LAST}.y1, nb.y1)))
    else list_append(out, struct_pack(x0:=nb.x0, y0:=nb.y0, x1:=nb.x1, y1:=nb.y1))
    end
  from fold f join boxes nb on nb.doc_id = f.doc_id and nb.rn = f.i + 1
),
final as (select doc_id, out from fold where i = n),
exploded as (
  select doc_id, cast(unnest(range(len(out))) as int) as box_id, unnest(out) as bx
  from final
)
select doc_id, box_id, bx.x0 as x0, bx.y0 as y0, bx.x1 as x1, bx.y1 as y1
from exploded
"""


op("w5_sweep_merge", _ORACLE)(w5_sweep_merge)
