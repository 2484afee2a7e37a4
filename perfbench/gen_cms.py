"""Seeded generator of DE-SynPUF-shaped CMS inputs for ``cms_preprocess``.

Writes ``ben.csv``, ``ip.csv``, ``pde.csv``, ``dx.csv`` and ``pcs.csv``
into a directory, in the layout ``orx_surgical_spark.pipelines.cms``
reads (``schemas.BEN_SCHEMA``, ``IP_SCHEMA``, ``PDE_SCHEMA``,
``CROSSWALK_RAW_SCHEMA``). What the inputs exercise:

- the 10 wide diagnosis and 6 wide procedure code columns, sparsely
  filled the way claims are (the first columns nearly always, the last
  rarely), with a share of codes that no crosswalk knows;
- blank claim dates, which the pipeline's null-on-error cast drops;
- about 4% of claims with DRG 469/470, the surgery label;
- crosswalks at ICD-9 sizes (15k diagnosis codes, 3.9k procedure
  codes) whose codes are quoted, padded or dotted like the AHRQ CCS
  files, so the remap takes its broadcast-join path.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

YEARS = (2008, 2009, 2010)
SURGERY_DRGS = ("469", "470")


def _cat(*parts) -> np.ndarray:
    """Element-wise string concatenation of arrays and scalars."""
    out = parts[0]
    for p in parts[1:]:
        out = np.char.add(out, p)
    return out


def _codes(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """``n`` distinct numeric code strings drawn from ``[lo, hi)``."""
    return np.array([str(c) for c in rng.choice(np.arange(lo, hi), n, replace=False)])


def _raw_crosswalk(
    rng: np.random.Generator, codes: np.ndarray, ccs_ids: np.ndarray, quote_ccs: bool
) -> pd.DataFrame:
    """AHRQ-style raw crosswalk: every code quoted, a third padded and a
    third carrying a ``.0`` suffix; 1% of codes repeat with a second
    category (the pipeline keeps the larger)."""
    cat = rng.choice(ccs_ids, len(codes))
    style = np.arange(len(codes)) % 3
    raw = np.where(
        style == 0, _cat("'", codes, "'"),
        np.where(style == 1, _cat("'", codes, "   '"), _cat("'", codes, ".0'")),
    )
    dup = rng.choice(len(codes), len(codes) // 100, replace=False)
    raw = np.concatenate([raw, raw[dup]])
    cat = np.concatenate([cat, rng.choice(ccs_ids, len(dup))])
    ccs = np.array([f"'{c} '" if quote_ccs else str(c) for c in cat])
    return pd.DataFrame({"'ICD-9-CM CODE'": raw, "'CCS CATEGORY'": ccs})


def generate(
    out_dir: str,
    seed: int,
    n_patients: int,
    claims_per_patient_year: float,
    n_dx_codes: int = 15_000,
    n_pcs_codes: int = 3_900,
    n_dx_ccs: int = 70,
    n_pcs_ccs: int = 30,
) -> dict[str, int]:
    """Write the five CSVs and return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    dx_codes = _codes(rng, n_dx_codes, 10_000, 99_999)
    pcs_codes = _codes(rng, n_pcs_codes, 100, 9_999)
    dx = _raw_crosswalk(rng, dx_codes, rng.choice(np.arange(1, 260), n_dx_ccs, replace=False), True)
    pcs = _raw_crosswalk(rng, pcs_codes, rng.choice(np.arange(1, 232), n_pcs_ccs, replace=False), False)

    pids = np.array([f"{x:016X}" for x in rng.integers(0, 2**62, n_patients)])
    birth = _cat(
        rng.integers(1920, 1960, n_patients).astype(str),
        np.char.zfill(rng.integers(1, 13, n_patients).astype(str), 2),
        np.char.zfill(rng.integers(1, 29, n_patients).astype(str), 2),
    )
    birth[rng.random(n_patients) < 0.01] = ""
    ben = pd.DataFrame({
        "DESYNPUF_ID": pids,
        "SP_RA_OA": rng.choice([1, 2], n_patients, p=[0.6, 0.4]),
        "BENE_BIRTH_DT": birth,
        "BENE_SEX_IDENT_CD": rng.choice([1, 2], n_patients),
    })

    # 70% of patients are enrolled in every year; the rest miss one.
    full = rng.random(n_patients) < 0.7
    missing = rng.integers(0, len(YEARS), n_patients)
    pat, yr = [], []
    for j, y in enumerate(YEARS):
        present = full | (missing != j)
        n = rng.poisson(claims_per_patient_year - 1, n_patients) + 1
        n[~present] = 0
        pat.append(np.repeat(np.arange(n_patients), n))
        yr.append(np.full(int(n.sum()), y))
    pat, yr = np.concatenate(pat), np.concatenate(yr)
    n_claims = len(pat)

    date = _cat(
        yr.astype(str),
        np.char.zfill(rng.integers(1, 13, n_claims).astype(str), 2),
        np.char.zfill(rng.integers(1, 29, n_claims).astype(str), 2),
    )
    date[rng.random(n_claims) < 0.02] = ""
    other_drg = rng.integers(1, 468, n_claims).astype(str)
    drg = np.where(
        rng.random(n_claims) < 0.04, rng.choice(SURGERY_DRGS, n_claims), other_drg
    )
    ip = {
        "DESYNPUF_ID": pids[pat],
        "CLM_ID": _cat("C", np.char.zfill(np.arange(n_claims).astype(str), 9)),
        "CLM_FROM_DT": date,
        "CLM_DRG_CD": drg,
    }

    def code_col(codes: np.ndarray, fill: float, unknown: str) -> np.ndarray:
        col = rng.choice(codes, n_claims)
        u = rng.random(n_claims)
        col = np.where(u < 0.05 * fill, _cat(unknown, rng.integers(0, 999, n_claims).astype(str)), col)
        col[u >= fill] = ""
        return col

    for i in range(1, 11):
        ip[f"ICD9_DGNS_CD_{i}"] = code_col(dx_codes, 0.95 - 0.08 * (i - 1), "V")
    for i in range(1, 7):
        ip[f"ICD9_PRCDR_CD_{i}"] = code_col(pcs_codes, 0.6 - 0.1 * (i - 1), "P")
    ip = pd.DataFrame(ip)

    n_pde = n_patients // 2
    pde = pd.DataFrame({
        "DESYNPUF_ID": pids[rng.integers(0, n_patients, n_pde)],
        "PROD_SRVC_ID": _cat("N", rng.integers(0, 10**9, n_pde).astype(str)),
    })

    frames = {"ben": ben, "ip": ip, "pde": pde, "dx": dx, "pcs": pcs}
    for name, df in frames.items():
        df.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
    return {name: len(df) for name, df in frames.items()}
