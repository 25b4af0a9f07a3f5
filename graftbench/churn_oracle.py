"""pandas transcription of the reference churn ETL, made apart from the program.

It follows the reference scripts, not the Spark code: ``scripts/transform.py``
(coerce, exact-median fill, "Unknown" fill, five features, drop two columns),
``scripts/load.py``'s header rule, and the notebook's ``cell8``/``cell10``
analytics. ``check_churn_outputs`` compares the files one pipeline pass
wrote against it and returns a list of mismatches (empty when correct).

Comparison is exact, with two stated exceptions:

- a mean of doubles or an interpolated median may differ in its last bits,
  because the two engines add in different orders: numbers compare to 1e-9
  relative;
- a percentage of two counts that lies exactly halfway between two rounded
  values is left out and counted: Spark's ``round`` rounds such ties up,
  pandas' ``.round`` (the notebook's) to even. Every other percentage must
  match exactly.
"""

from __future__ import annotations

import json
import os
import re
from fractions import Fraction

import numpy as np
import pandas as pd

REL_TOL = 1e-9
TIE = "__tie"  # suffix of a column marking the cells left out as rounding ties


def ties(num, den, places: int) -> list[bool]:
    """Whether num*100/den lies exactly halfway between two values rounded to ``places``."""
    out = []
    for n, d in zip(num, den):
        f = Fraction(int(n) * 100 * 10**places * 2, int(d))
        out.append(f.denominator == 1 and f.numerator % 2 == 1)
    return out


def transform(raw_path: str) -> pd.DataFrame:
    df = pd.read_csv(raw_path, dtype={"customerID": str, "TotalCharges": str})
    df["TotalCharges"] = pd.to_numeric(df["TotalCharges"], errors="coerce")
    for c in ("tenure", "MonthlyCharges", "TotalCharges"):
        df[c] = df[c].fillna(df[c].median())
    obj = df.select_dtypes(include="object").columns
    df[obj] = df[obj].fillna("Unknown")
    df["tenure_group"] = pd.cut(
        df["tenure"], bins=[-1, 12, 36, 60, np.inf], labels=["New", "Regular", "Loyal", "Champion"]
    ).astype(str)
    mc = df["MonthlyCharges"]
    df["monthly_charge_segment"] = np.where(mc < 30, "Low", np.where(mc <= 70, "Medium", "High"))
    inet = df["InternetService"].astype(str).str.lower().str.strip()
    df["has_internet_service"] = inet.isin(["dsl", "fiber optic", "fiberoptic", "fiber"]).astype(int)
    df["is_multi_line_user"] = df["MultipleLines"].astype(str).str.lower().eq("yes").astype(int)
    contract = df["Contract"].astype(str).str.lower().str.strip()
    df["contract_type_code"] = contract.map({"month-to-month": 0, "one year": 1, "two year": 2}).fillna(-1).astype(int)
    return df.drop(columns=["customerID", "gender"])


def normalize_header(name: str) -> str:
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", name)
    s = re.sub(r"[^0-9a-zA-Z_]+", "_", s).strip("_").lower()
    return s.replace("_", "") if any(ch.isupper() for ch in name) else s


def analytics(staged: pd.DataFrame) -> dict[str, pd.DataFrame]:
    df = staged.rename(columns=normalize_header)
    token = df["churn"].astype(str).str.lower().str.strip()
    df["churn_flag"] = token.map({"yes": 1, "y": 1, "true": 1, "1": 1, "no": 0, "n": 0, "false": 0, "0": 0})
    flag = df["churn_flag"]
    out = {
        "summary": pd.DataFrame(
            [
                {
                    "total_rows": len(df),
                    "churn_percentage": round(flag.sum() * 100 / flag.count(), 3),
                    "unique_rows": len(df.drop_duplicates()),
                    "churn_percentage" + TIE: ties([flag.sum()], [flag.count()], 3)[0],
                }
            ]
        ),
        "avg_by_contract": df.groupby("contract", dropna=False)["monthlycharges"]
        .mean()
        .round(3)
        .rename("avg_monthly_charges")
        .reset_index(),
    }
    tg = df["tenure_group"].fillna("UNKNOWN")
    out["tenure_counts"] = tg.value_counts().rename_axis("tenure_group").reset_index(name="count")
    vc = df["internetservice"].fillna("UNKNOWN").value_counts()
    out["internet_counts"] = pd.DataFrame(
        {
            "internet_service": vc.index,
            "count": vc.values,
            "pct": (vc.values * 100.0 / vc.sum()).round(2),
            "pct" + TIE: ties(vc.values, [vc.sum()] * len(vc), 2),
        }
    )
    piv = pd.crosstab(tg, flag.fillna(0).astype(int)).reindex(columns=[0, 1], fill_value=0)
    piv = piv.rename(columns={0: "not_churned_count", 1: "churned_count"}).reset_index()
    piv["total"] = piv["churned_count"] + piv["not_churned_count"]
    piv["churn_rate_pct"] = (piv["churned_count"] * 100.0 / piv["total"]).round(3)
    piv["churn_rate_pct" + TIE] = ties(piv["churned_count"], piv["total"], 3)
    out["pivot"] = piv
    seg = df.dropna(subset=["monthly_charge_segment", "churn_flag"]).groupby("monthly_charge_segment")["churn_flag"]
    rate = (seg.mean() * 100).round(3).rename("churn_rate_pct").reset_index()
    rate["churn_rate_pct" + TIE] = ties(seg.sum(), seg.count(), 3)
    out["rate_by_segment"] = rate
    return out


def _frame_diff(name: str, got: pd.DataFrame, want: pd.DataFrame, key: list[str], skipped: list) -> list[str]:
    cols = [c for c in want.columns if not c.endswith(TIE)]
    if sorted(got.columns) != sorted(cols):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(cols)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != {len(want)}"]
    got = got[cols].sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    errors = []
    for c in cols:
        g, w = got[c], want[c]
        if pd.api.types.is_numeric_dtype(w) and pd.api.types.is_numeric_dtype(g):
            ok = np.isclose(g.astype(float), w.astype(float), rtol=REL_TOL, atol=0.0, equal_nan=True)
        else:
            ok = g.astype(str).to_numpy() == w.astype(str).to_numpy()
        if c + TIE in want:
            tie = want[c + TIE].to_numpy(dtype=bool)
            skipped.extend(f"{name}.{c}[{want[key[0]].iloc[i]}]" for i in np.flatnonzero(tie))
            ok = ok | tie
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            errors.append(f"{name}.{c}: row {i} got {g.iloc[i]!r}, want {w.iloc[i]!r}")
    return errors


def check_churn_outputs(raw_path: str, out_dir: str) -> tuple[list[str], list[str]]:
    """(mismatches, cells left out as rounding ties) for one pass's files."""
    want_staged = transform(raw_path)
    got_staged = pd.read_csv(os.path.join(out_dir, "churn_staged.csv"))
    if list(got_staged.columns) != list(want_staged.columns):
        return [f"staged columns {list(got_staged.columns)} != {list(want_staged.columns)}"], []
    skipped: list[str] = []
    # row order is not part of the contract: compare as sorted multisets
    errors = _frame_diff("staged", got_staged, want_staged, list(want_staged.columns), skipped)
    tables = analytics(want_staged)
    for name, want in tables.items():
        got = pd.read_csv(os.path.join(out_dir, f"{name}.csv"), keep_default_na=False, na_values=[""])
        errors += _frame_diff(name, got, want, [want.columns[0]], skipped)
    with open(os.path.join(out_dir, "analysis_summary.json")) as fh:
        got_json = pd.DataFrame(json.load(fh))
    errors += _frame_diff("summary_json", got_json, tables["summary"], ["total_rows"], [])
    return errors, skipped
