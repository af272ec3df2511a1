"""Forecasting operators (A7 analog).

The reference fits LinearRegression / ARIMA(1,1,1) on monthly
remboursement series (tarification_pipeline.py:255-263,299-304). Here:

* ``forecast_linear`` — least-squares on the monthly event-value series
  computed from *exact* integer/decimal sufficient statistics
  (n, Σx, Σy, Σxy, Σx²), so it has an exact DuckDB oracle: the only
  float ops are final divisions on identical inputs.
* ``forecast_ar1`` — per-series AR(1) via ``applyInPandas`` (grouped-map
  kernel; model fitting is not a Catalyst op). The estimator is
  closed-form, so it still gets an exact SQL oracle (below).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_DEC = "decimal(18,2)"

# Quantized exact ratio of two big integers (q > 0), at 2^-30 resolution:
# sign(p) * floor(|p|/q * 2^30 + 1/2), all in exact integer arithmetic,
# then ONE exact double cast (the quantized numerator is < 2^53 whenever
# |p/q| < 2^23) and ONE exact power-of-two division. This is the only
# cross-engine-safe way to turn a >2^53 integer ratio into a double:
# DuckDB's hugeint->double cast mis-rounds ~2% of such values by 1 ulp
# (verified empirically), so `double(p)/double(q)` is forbidden here.


def _ratio_q30(p: int, q: int) -> float:
    sgn = -1 if p < 0 else 1
    return float(sgn * ((2 * abs(p) * 1073741824 + q) // (2 * q))) / 1073741824.0


def _ratio_q30_sql(p: str, q: str) -> str:
    return (
        f"cast((case when {p} < 0 then -1 else 1 end)\n"
        f"              * ((2 * abs({p}) * 1073741824 + {q}) // (2 * {q}))\n"
        f"              as double) / 1073741824.0"
    )


@op(
    "forecast_linear",
    """
    with daily as (
      select datediff('day', date '2020-01-01', cast(ts as date)) as x,
             sum(cast(value as decimal(18,2))) as y
      from events group by 1
    ),
    stats as (
      select count(*) as n, sum(x) as sx, sum(y) as sy,
             sum(x * y) as sxy, sum(x * x) as sx2, max(x) as mx
      from daily
    )
    select cast(n * sxy - sx * sy as double)
             / nullif(cast(n * sx2 - sx * sx as double), 0.0) as slope,
           (cast(sy as double)
              - cast(n * sxy - sx * sy as double)
                / nullif(cast(n * sx2 - sx * sx as double), 0.0)
                * cast(sx as double)) / n as intercept,
           n as n_days, mx as last_day_index
    from stats
    """,
)
def forecast_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A7: daily rollup -> closed-form least squares from exact
    sufficient statistics. Two tiny shuffles (days, then a 1-row agg);
    at scale the daily rollup is the only data-sized pass. (Daily, not
    monthly: the synthetic events span one month, so a monthly series
    would be a single point.)"""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2020-01-01").cast("date")).alias("x")
    ).agg(F.sum(F.col("value").cast(_DEC)).alias("y"))
    stats = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.max("x").alias("mx"),
    )
    numer = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denom = F.nullif((F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast("double"), F.lit(0.0))
    slope = numer / denom
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / F.col("n")
    return stats.select(
        slope.alias("slope"),
        intercept.alias("intercept"),
        F.col("n").alias("n_days"),
        F.col("mx").alias("last_day_index"),
    )


# The estimator is closed-form (lag-1 autocovariance ratio), and the
# fit is ENGINEERED EXACT across engines: both sides accumulate the
# sufficient statistics as exact integers (per-period sums in cents —
# Python bigints in the kernel, HUGEINT in DuckDB), scale the centered
# sums by n^2 to clear the mean's division, and only then perform the
# SAME short sequence of IEEE-double ops (one cast, one divide, two
# multiplies per horizon, in identical association order). No float sum
# ever differs in association order between engines, so the outputs are
# bit-identical — no tolerance is relied on (cf. ADVICE r01 on phi-
# cancellation flakiness under relative-only rtol).
#
# Scaled centered stats over the k = n-1 lag pairs (all exact ints):
#   num = n^2 * Σ y_t·y_{t-1}  - n·S·(Σ_t y_t + Σ_t y_{t-1}) + k·S^2
#   den = n^2 * Σ y_{t-1}^2    - 2·n·S·Σ_t y_{t-1}           + k·S^2
#   phi = ratio_q30(num, den)              (den == 0 -> phi = 0, exact
#                                           INTEGER comparison)
#
# ratio_q30 exists because DuckDB's hugeint->double cast is NOT
# correctly rounded: empirically ~2% of random integers beyond 2^53
# cast to a double 1 ulp away from Python's correctly-rounded float(),
# so `double(num)/double(den)` with |num|,|den| ~ 1e21 silently
# diverges on unlucky data. The ratio is instead quantized in EXACT
# integer arithmetic — sign(p) * floor(|p|/q * 2^30 + 1/2), via
# (2*|p|*2^30 + q) // (2*q) — and only the quantized numerator (always
# < 2^53 for |p/q| < 2^23, hence cast exactly by both engines) is
# divided by the exact power of two. Any hugeint that may exceed 2^53
# must go through this path, never through a raw double cast; plain
# money sums (cents over one series) stay < 2^53 by domain bound and
# may cast directly.
_AR1_ORACLE = f"""
with series as (
  select event_type, cast(ts as date) as period,
         cast(sum(cast(value as decimal(18,2))) * 100 as hugeint) as yc
  from events group by 1, 2
),
lagged as (
  select event_type, period, yc,
         lag(yc) over (partition by event_type order by period) as yp
  from series
),
stats as (
  select event_type,
         count(*) as n,
         sum(yc) as s,
         count(yp) as k,
         coalesce(sum(case when yp is not null then yc end), 0) as sp_cur,
         coalesce(sum(case when yp is not null then yp end), 0) as sp_prev,
         coalesce(sum(yc * yp), 0) as spp,
         coalesce(sum(yp * yp), 0) as sprev2,
         last(yc order by period) as y_last
  from lagged group by 1
),
fit as (
  select event_type, n, s, y_last,
         n*n*spp - n*s*(sp_cur + sp_prev) + k*s*s as num,
         n*n*sprev2 - 2*n*s*sp_prev + k*s*s as den
  from stats
),
phis as (
  select event_type, n, s, y_last,
         case when den > 0 then {_ratio_q30_sql("num", "den")}
              else 0.0 end as phi
  from fit
)
select event_type, phi,
       cast(s as double) / (100.0 * n) as mean_y,
       cast(s as double) / (100.0 * n)
         + (cast(y_last as double) / 100.0 - cast(s as double) / (100.0 * n))
           * phi as h1,
       cast(s as double) / (100.0 * n)
         + (cast(y_last as double) / 100.0 - cast(s as double) / (100.0 * n))
           * (phi * phi) as h2,
       cast(s as double) / (100.0 * n)
         + (cast(y_last as double) / 100.0 - cast(s as double) / (100.0 * n))
           * ((phi * phi) * phi) as h3
from phis
"""


def _ar1_exact_fit(yc: list) -> tuple:
    """Closed-form AR(1) on an integer (cents) series via exact bigint
    sufficient statistics. Returns (phi, mu, h1, h2, h3) as the doubles
    produced by the one canonical IEEE op sequence (mirrored verbatim in
    the SQL oracles)."""
    n = len(yc)
    s = sum(yc)
    sp_cur = sum(yc[1:])
    sp_prev = sum(yc[:-1])
    spp = sum(a * b for a, b in zip(yc[1:], yc[:-1]))
    sprev2 = sum(b * b for b in yc[:-1])
    k = n - 1
    num = n * n * spp - n * s * (sp_cur + sp_prev) + k * s * s
    den = n * n * sprev2 - 2 * n * s * sp_prev + k * s * s
    phi = _ratio_q30(num, den) if den > 0 else 0.0
    mu = s / (100.0 * n)
    last_c = yc[-1] / 100.0 - mu
    h1 = mu + last_c * phi
    h2 = mu + last_c * (phi * phi)
    h3 = mu + last_c * ((phi * phi) * phi)
    return phi, mu, h1, h2, h3


def forecast_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) per event_type over the daily series, fit in a grouped-map
    pandas kernel (the reference's ARIMA analog fits monthly,
    tarification_pipeline.py:299-304 — same code over a different group
    key; daily here because the synthetic events span ONE month, and a
    single-point series would fit a degenerate phi=0 on every driver
    run): phi from lag-1 autocovariance, 3-step-ahead forecast with
    mean reversion. The kernel receives exact integer cents and runs
    `_ar1_exact_fit` — bit-identical to the SQL oracle (see _AR1_ORACLE
    header)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    series_df = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("period")
        )
        .agg(F.sum(F.col("value").cast(_DEC)).alias("y_dec"))
        # exact integer cents: the kernel's sufficient statistics stay in
        # arbitrary-precision Python ints, like DuckDB's HUGEINT
        .select(
            "event_type", "period", (F.col("y_dec") * 100).cast("long").alias("yc")
        )
    )

    schema = "event_type string, phi double, mean_y double, h1 double, h2 double, h3 double"

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("period")
        yc = [int(v) for v in pdf["yc"]]
        phi, mu, h1, h2, h3 = _ar1_exact_fit(yc)
        return pd.DataFrame(
            [[pdf["event_type"].iloc[0], phi, mu, h1, h2, h3]],
            columns=["event_type", "phi", "mean_y", "h1", "h2", "h3"],
        )

    return series_df.groupBy("event_type").applyInPandas(fit, schema=schema)


op("forecast_ar1", _AR1_ORACLE)(forecast_ar1)  # closed-form estimator, SQL twin


# --- ARIMA(1,1,1) analog: differenced AR(1)+drift with an MA(1) term ---------
# The reference fits ARIMA(1,1,1) on the monthly series
# (Tarification_service isoler/app/tarification_pipeline.py:299-304).
# Deterministic analog with all three letters:
#   I: difference the integer-cents series once (z_t = y_t - y_{t-1});
#   AR: phi from the exact-bigint AR(1) sufficient statistics
#       (_ar1_exact_fit, shared with forecast_ar1);
#   MA: theta by method-of-moments on the AR residuals — residual lag-1
#       autocorrelation r1 solves r1 = theta/(1+theta^2), so the
#       invertible root is theta = (1 - sqrt(1 - 4 r1^2)) / (2 r1)
#       (|r1| > 1/2 clamps to the boundary ±1). A maximum-likelihood
#       MA(1) needs latent-innovation iteration; this closed form is the
#       textbook moment estimator, chosen BECAUSE it can be made exact.
# Cross-engine exactness: residuals involve phi (a float), so raw
# residual sums would be float sums with engine-dependent association
# order — forbidden (CLAUDE.md invariant). Instead each residual is
# computed per row with ONE canonical IEEE op sequence (identical
# inputs -> identical doubles on both engines) and quantized to an
# integer (floor(e*1000 + 0.5), exact in IEEE); the autocorrelation
# sums then run over exact integers (Python bigint / DuckDB HUGEINT),
# association-free. Forecasts integrate back to levels with the MA term
# decaying through phi: ẑ_{t+h} - mu = phi^h (z_t - mu) + phi^{h-1}
# theta e_t, f_{t+h} = y_t + Σ_{i<=h} ẑ_{t+i}.
_ARIMA_ORACLE = f"""
with series as (
  select event_type, cast(ts as date) as period,
         cast(sum(cast(value as decimal(18,2))) * 100 as hugeint) as yc
  from events group by 1, 2
),
diffs as (
  select event_type, period,
         yc - lag(yc) over (partition by event_type order by period) as zc
  from series
),
z as (select event_type, period, zc from diffs where zc is not null),
zlag as (
  select event_type, period, zc,
         lag(zc) over (partition by event_type order by period) as zp
  from z
),
zstats as (
  select event_type,
         count(*) as m, sum(zc) as sz, count(zp) as k,
         coalesce(sum(case when zp is not null then zc end), 0) as sp_cur,
         coalesce(sum(case when zp is not null then zp end), 0) as sp_prev,
         coalesce(sum(zc * zp), 0) as spp,
         coalesce(sum(zp * zp), 0) as sprev2,
         last(zc order by period) as z_last
  from zlag group by 1
),
zfit as (
  select event_type, m, sz, z_last,
         m*m*spp - m*sz*(sp_cur + sp_prev) + k*sz*sz as num,
         m*m*sprev2 - 2*m*sz*sp_prev + k*sz*sz as den
  from zstats
),
params as (
  -- sz, z_last are plain money sums in cents (< 2^53 by domain bound:
  -- one series' total, not a product of sums), so their double casts
  -- are exact in both engines; num/den exceed 2^53 and MUST go through
  -- the quantized ratio
  select event_type, m, sz, z_last,
         case when den > 0 then {_ratio_q30_sql("num", "den")}
              else 0.0 end as phi,
         cast(sz as double) / cast(m as double) as mu_c
  from zfit
),
zres as (
  -- per-row residual of the fitted AR(1)-with-mean on the differences:
  -- ONE canonical IEEE op sequence (mirrored in _ma1_exact); identical
  -- inputs on both engines -> identical doubles
  select zl.event_type, zl.period,
         (cast(zl.zc as double) - p.mu_c)
           - p.phi * (cast(zl.zp as double) - p.mu_c) as e
  from zlag zl join params p on zl.event_type = p.event_type
  where zl.zp is not null
),
qres as (
  -- quantize to integer milli-cents so the autocorrelation sums run in
  -- exact integer arithmetic (association-free)
  select event_type, period, e,
         cast(floor(e * 1000.0 + 0.5) as hugeint) as q
  from zres
),
qlag as (
  select event_type, period, e, q,
         lag(q) over (partition by event_type order by period) as qp
  from qres
),
qagg as (
  select event_type,
         coalesce(sum(q * qp), 0) as sqq,
         sum(q * q) as sq2,
         last(e order by period) as e_last
  from qlag group by 1
),
r1s as (
  -- sqq/sq2 exceed 2^53 -> quantized ratio, never a raw hugeint cast
  select event_type, e_last,
         case when sq2 > 0 then {_ratio_q30_sql("sqq", "sq2")}
              else 0.0 end as r1
  from qagg
),
thetas as (
  select event_type,
         case when r1 = 0.0 then 0.0
              when 4.0 * (r1 * r1) <= 1.0
                then (1.0 - sqrt(1.0 - 4.0 * (r1 * r1))) / (2.0 * r1)
              when r1 > 0.0 then 1.0
              else -1.0 end as theta,
         e_last / 100.0 as ecur
  from r1s
),
lasts as (
  select event_type, last(yc order by period) as y_last from series group by 1
),
joined as (
  select l.event_type, l.y_last,
         coalesce(p.phi, 0.0) as phi,
         case when p.m is null then 0.0
              else cast(p.sz as double) / (100.0 * p.m) end as drift,
         case when p.m is null then 0.0
              else cast(p.z_last as double) / 100.0
                   - cast(p.sz as double) / (100.0 * p.m) end as zcent,
         coalesce(t.theta, 0.0) as theta,
         coalesce(t.ecur, 0.0) as ecur
  from lasts l
  left join params p on l.event_type = p.event_type
  left join thetas t on l.event_type = t.event_type
)
select event_type, phi, theta, drift,
       cast(y_last as double) / 100.0
         + (drift + zcent * phi + ecur * theta) as f1,
       cast(y_last as double) / 100.0
         + (drift + zcent * phi + ecur * theta)
         + (drift + zcent * (phi * phi) + ecur * (theta * phi)) as f2,
       cast(y_last as double) / 100.0
         + (drift + zcent * phi + ecur * theta)
         + (drift + zcent * (phi * phi) + ecur * (theta * phi))
         + (drift + zcent * ((phi * phi) * phi)
            + ecur * ((theta * phi) * phi)) as f3
from joined
"""


def _ma1_exact(zc: list, phi: float, mu_c: float) -> tuple:
    """Method-of-moments MA(1): theta and the last residual (currency
    units) from integer-quantized AR(1) residuals. Every double comes
    from the one canonical IEEE op sequence mirrored verbatim in
    _ARIMA_ORACLE's zres/r1s/thetas CTEs, and every sum is an exact
    integer sum — bit-identical across engines."""
    import math

    e = [
        (float(zc[t]) - mu_c) - phi * (float(zc[t - 1]) - mu_c)
        for t in range(1, len(zc))
    ]
    if not e:
        return 0.0, 0.0
    q = [int(math.floor(v * 1000.0 + 0.5)) for v in e]
    sqq = sum(a * b for a, b in zip(q[1:], q[:-1]))
    sq2 = sum(a * a for a in q)
    r1 = _ratio_q30(sqq, sq2) if sq2 > 0 else 0.0
    if r1 == 0.0:
        theta = 0.0
    elif 4.0 * (r1 * r1) <= 1.0:
        theta = (1.0 - math.sqrt(1.0 - 4.0 * (r1 * r1))) / (2.0 * r1)
    elif r1 > 0.0:
        theta = 1.0
    else:
        theta = -1.0
    return theta, e[-1] / 100.0


def forecast_arima_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARIMA(1,1,1) analog per event_type: first-difference the daily
    cents series (daily, not the reference's monthly, for the same
    single-month-fixture reason as forecast_ar1), fit AR(1)+drift on the differences via the exact
    integer sufficient statistics (`_ar1_exact_fit`), estimate the MA(1)
    theta by method-of-moments on quantized residuals (`_ma1_exact`),
    and integrate the 3-step forecasts back to levels. Grouped-map
    pandas kernel like forecast_ar1; bit-identical to the SQL oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    series_df = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("period")
        )
        .agg(F.sum(F.col("value").cast(_DEC)).alias("y_dec"))
        .select(
            "event_type", "period", (F.col("y_dec") * 100).cast("long").alias("yc")
        )
    )

    schema = (
        "event_type string, phi double, theta double, drift double, "
        "f1 double, f2 double, f3 double"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("period")
        yc = [int(v) for v in pdf["yc"]]
        zc = [b - a for a, b in zip(yc[:-1], yc[1:])]
        if zc:
            phi, drift, _e1, _e2, _e3 = _ar1_exact_fit(zc)
            mu_c = float(sum(zc)) / float(len(zc))
            theta, ecur = _ma1_exact(zc, phi, mu_c)
            zcent = zc[-1] / 100.0 - drift
        else:
            phi = drift = theta = ecur = zcent = 0.0
        y_last = yc[-1] / 100.0
        g1 = drift + zcent * phi + ecur * theta
        g2 = drift + zcent * (phi * phi) + ecur * (theta * phi)
        g3 = drift + zcent * ((phi * phi) * phi) + ecur * ((theta * phi) * phi)
        f1 = y_last + g1
        f2 = f1 + g2
        f3 = f2 + g3
        return pd.DataFrame(
            [[pdf["event_type"].iloc[0], phi, theta, drift, f1, f2, f3]],
            columns=["event_type", "phi", "theta", "drift", "f1", "f2", "f3"],
        )

    return series_df.groupBy("event_type").applyInPandas(fit, schema=schema)


op("forecast_arima_like", _ARIMA_ORACLE)(forecast_arima_like)
