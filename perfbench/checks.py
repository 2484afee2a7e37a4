"""Correctness checks, run outside the timed region.

Each check takes the DataFrame an operation built in the cold pass and
raises ``AssertionError`` on a wrong result; the benchmark counts that
operation as failed.

- Catalog queries are compared with their DuckDB oracle through
  ``orx_surgical_spark.testing.compare_query``.
- The CMS entry points are compared with an independent pandas
  computation over the same CSVs: the cohort's patient and claim
  counts (the AOV and MHE row counts), exactly ``ceil(0.8 n)`` train
  rows per label in both tables, and the MHE indices (their count,
  their sum, and that every index lies in ``[0, 366 |vocab|)``).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

YEARS = (2008, 2009, 2010)
SURGERY_DRGS = ("469", "470")
TRAIN_FRAC = 0.8


def check_catalog(name: str, df, data_dir: str) -> None:
    from orx_surgical_spark.queries.catalog import REGISTRY
    from orx_surgical_spark.testing import compare_query

    compare_query(df, REGISTRY[name].oracle, data_dir)


def _clean(s: pd.Series) -> pd.Series:
    """Quoted/padded/dotted crosswalk code -> bare code."""
    return s.str.replace(r"^'|'$", "", regex=True).str.split(".").str[0].str.strip()


def _crosswalk(path: str) -> dict[str, int]:
    raw = pd.read_csv(path, dtype=str, keep_default_na=False)
    code = _clean(raw.iloc[:, 0]).replace(r"^\s*$", "None", regex=True)
    ccs = pd.to_numeric(_clean(raw.iloc[:, 1]), errors="coerce")
    x = pd.DataFrame({"code": code, "ccs": ccs}).dropna()
    return x.groupby("code")["ccs"].max().astype(int).to_dict()


def cms_expected(data_dir: str) -> dict:
    """Reference semantics of the cohort, the splits and the MHE
    indices, computed with pandas from the raw CSVs."""
    csv = lambda n: pd.read_csv(  # noqa: E731
        os.path.join(data_dir, f"{n}.csv"), dtype=str, keep_default_na=False
    )
    ben, ip = csv("ben"), csv("ip")
    ben["SP_RA_OA"] = ben["SP_RA_OA"].astype(int)
    m = ip.merge(ben, on="DESYNPUF_ID")
    m["clm"] = pd.to_numeric(m["CLM_FROM_DT"], errors="coerce")
    m = m.dropna(subset=["clm"])
    m["Year"] = (m["clm"] // 10_000).astype(int)
    m = m[m["Year"].between(YEARS[0], YEARS[-1]) & (m["SP_RA_OA"] == 1)]
    m = m[~(m["Year"].isin(YEARS[:2]) & m["CLM_DRG_CD"].isin(SURGERY_DRGS))]
    years = m.groupby("DESYNPUF_ID")["Year"].transform("nunique")
    m = m[years == len(YEARS)].copy()
    m["label"] = m["CLM_DRG_CD"].isin(SURGERY_DRGS).astype(int)

    dx = _crosswalk(os.path.join(data_dir, "dx.csv"))
    pcs = _crosswalk(os.path.join(data_dir, "pcs.csv"))
    dx_vocab, pcs_vocab = sorted(set(dx.values())), sorted(set(pcs.values()))
    n_cats = len(dx_vocab) + len(pcs_vocab)
    pos = {("dx", v): i for i, v in enumerate(dx_vocab)}
    pos.update({("pcs", v): len(dx_vocab) + i for i, v in enumerate(pcs_vocab)})

    doy = pd.to_datetime(m["CLM_FROM_DT"], format="%Y%m%d").dt.dayofyear.to_numpy()
    active = []
    for kind, xwalk, cols in (
        ("dx", dx, [f"ICD9_DGNS_CD_{i}" for i in range(1, 11)]),
        ("pcs", pcs, [f"ICD9_PRCDR_CD_{i}" for i in range(1, 7)]),
    ):
        ccs = np.stack([m[c].map(xwalk).fillna(0).astype(int).to_numpy() for c in cols], 1)
        for v in sorted(set(ccs.ravel()) - {0}):
            hit = (ccs == v).any(axis=1)
            active.append(((doy[hit] - 1) * n_cats + pos[(kind, v)]).astype(np.int64))
    idx = np.concatenate(active) if active else np.zeros(0, np.int64)

    aov_label = m[m["Year"] == YEARS[-1]].groupby("DESYNPUF_ID")["label"].max()

    def train(labels: pd.Series) -> dict[int, int]:
        return {int(k): math.ceil(TRAIN_FRAC * n) for k, n in labels.value_counts().items()}

    return {
        "cohort_patients": int(m["DESYNPUF_ID"].nunique()),
        "cohort_claims": int(len(m)),
        "aov_train": train(aov_label),
        "mhe_train": train(m["label"]),
        "mhe_nnz": int(len(idx)),
        "mhe_idx_sum": int(idx.sum()),
        "mhe_idx_bound": 366 * n_cats,
    }


def _by_label_split(df, *extra) -> list:
    """Rows of ``(label, split, n, *extra)``, one aggregate job."""
    from pyspark.sql import functions as F

    return df.groupBy("label", "split").agg(F.count(F.lit(1)).alias("n"), *extra).collect()


def _train(rows) -> dict[int, int]:
    return {int(r["label"]): int(r["n"]) for r in rows if r["split"] == "train"}


def check_cms(name: str, df, expected: dict) -> None:
    """The AOV table has one row per cohort patient and the MHE table
    one row per cohort claim, so their row counts check the cohort."""
    from pyspark.sql import functions as F

    if name == "get_aov":
        rows = _by_label_split(df)
        got = {"cohort_patients": sum(r["n"] for r in rows), "aov_train": _train(rows)}
    else:
        idx = F.col("mhe_idx")
        rows = _by_label_split(
            df,
            F.sum(F.size(idx)).alias("nnz"),
            F.sum(F.aggregate(idx, F.lit(0).cast("long"), lambda a, x: a + x)).alias("sum"),
            F.min(F.array_min(idx)).alias("lo"),
            F.max(F.array_max(idx)).alias("hi"),
        )
        lo = [r["lo"] for r in rows if r["lo"] is not None]
        hi = [r["hi"] for r in rows if r["hi"] is not None]
        bound = expected["mhe_idx_bound"]
        assert not lo or (min(lo) >= 0 and max(hi) < bound), (
            f"mhe_idx outside [0, {bound}): [{min(lo)}, {max(hi)}]"
        )
        got = {"cohort_claims": sum(r["n"] for r in rows), "mhe_train": _train(rows),
               "mhe_nnz": sum(r["nnz"] or 0 for r in rows),
               "mhe_idx_sum": sum(r["sum"] or 0 for r in rows)}
    want = {k: expected[k] for k in got}
    assert got == want, f"{name}: spark {got} != reference {want}"
