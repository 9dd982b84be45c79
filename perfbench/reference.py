"""numpy/pandas references with flox semantics, and result comparison.

Semantics spelled out (flox ``groupby_reduce``; the table world has both
NaN and NULL, and both mean *missing*):

- rows whose group label is NULL/NaN are dropped;
- plain funcs (``sum``, ``mean``, ``max`` ...) propagate a missing value:
  a group holding one yields NaN (``mode``: NaN; ``argmax``: the position
  of the first missing value, as ``np.argmax`` does);
- ``nan*`` funcs skip missing values; ``nansum`` of an all-missing group
  is 0, ``nanprod`` 1, the others NaN;
- ``count``/``nanlen`` count non-missing values, ``len`` counts rows;
- ``nunique`` counts missing as one extra value, ``nannunique`` ignores it;
- ``all``/``any`` treat NaN as truthy (``np.all``/``np.any``);
- positional funcs (``first``/``argmax`` ...) order rows by ``order_by``;
  ``arg*`` return that order value;
- ``var``/``std`` use ``ddof`` from ``finalize_kwargs`` (default 0);
  quantiles interpolate linearly (``np.quantile``'s default);
- ``expected_groups`` reindexes to the declared labels, filling absent
  groups with ``fill_value`` (NaN when not given);
- ``isbin`` digitizes labels into left-open, right-closed bins; the
  output key is the bin index ``{by}_bin``;
- ``min_count``: groups with fewer non-missing values yield NaN.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PLAIN_NAN = {"sum": "nansum", "prod": "nanprod", "mean": "nanmean", "var": "nanvar",
             "std": "nanstd", "min": "nanmin", "max": "nanmax",
             "sum_of_squares": "nansum_of_squares", "median": "nanmedian",
             "quantile": "nanquantile", "mode": "nanmode"}


def reduce_ref(pdf: pd.DataFrame, by: list[str], func: str, value: str,
               order: str = "idx", q=None, ddof: int = 0, min_count: int | None = None) -> pd.Series:
    """One flox reduction of ``value`` grouped by ``by``; a Series indexed
    by the group labels (a MultiIndex for several groupers)."""
    d = pdf[list(dict.fromkeys(by + [value, order]))].dropna(subset=by)
    d = d.sort_values(order, kind="stable")
    keys = [d[b] for b in by]
    x = d[value].astype(np.float64)
    miss = x.isna()
    g = x.groupby(keys, sort=True)
    hasnan = miss.groupby(keys, sort=True).any()

    if func in PLAIN_NAN:
        out = reduce_ref(pdf, by, PLAIN_NAN[func], value, order, q, ddof)
        return out.where(~hasnan.reindex(out.index).astype(bool), np.nan)
    if func == "nansum":
        out = g.sum()
    elif func == "nanprod":
        out = g.prod()
    elif func == "nanmean":
        out = g.mean()
    elif func == "nanvar":
        out = g.var(ddof=ddof)
    elif func == "nanstd":
        out = g.std(ddof=ddof)
    elif func == "nanmin":
        out = g.min()
    elif func == "nanmax":
        out = g.max()
    elif func in ("count", "nanlen"):
        out = g.count()
    elif func == "len":
        out = g.size()
    elif func == "nansum_of_squares":
        out = (x * x).groupby(keys, sort=True).sum()
    elif func == "nanmedian":
        out = g.median()
    elif func == "nanquantile":
        out = g.quantile(q)
    elif func == "all":
        out = (x != 0).groupby(keys, sort=True).all()
    elif func == "any":
        out = (x != 0).groupby(keys, sort=True).any()
    elif func in ("first", "last"):
        out = g.nth(0 if func == "first" else -1)
        out.index = pd.MultiIndex.from_frame(d.loc[out.index, by]) if len(by) > 1 else d.loc[out.index, by[0]]
        out = out.sort_index()
    elif func == "nanfirst":
        out = g.first()
    elif func == "nanlast":
        out = g.last()
    elif func in ("argmax", "argmin", "nanargmax", "nanargmin"):
        pos = d[order]
        xs = x.copy()
        if func.endswith("max"):
            xs = -xs
        # rank within group by (value, order); NaN first for plain args
        key = pd.DataFrame({"b": np.arange(len(d)), "x": xs.to_numpy(), "m": miss.to_numpy(),
                            "o": pos.to_numpy()})
        for i, b in enumerate(by):
            key[f"k{i}"] = keys[i].to_numpy()
        kcols = [f"k{i}" for i in range(len(by))]
        if func.startswith("nan"):
            key = key[~key["m"]]
            key = key.sort_values(kcols + ["x", "o"])
        else:
            key["nm"] = ~key["m"]
            key = key.sort_values(kcols + ["nm", "x", "o"])
        top = key.drop_duplicates(kcols)
        idx = pd.MultiIndex.from_frame(top[kcols], names=by) if len(by) > 1 else pd.Index(top["k0"], name=by[0])
        out = pd.Series(top["o"].to_numpy(), index=idx).reindex(g.size().index)
    elif func == "nanmode":
        t = pd.DataFrame({**{f"k{i}": keys[i].to_numpy() for i in range(len(by))}, "x": x.to_numpy()})
        t = t[~miss.to_numpy()]
        kcols = [f"k{i}" for i in range(len(by))]
        c = t.groupby(kcols + ["x"]).size().rename("n").reset_index()
        c = c.sort_values(kcols + ["n", "x"], ascending=[True] * len(kcols) + [False, True])
        top = c.drop_duplicates(kcols)
        idx = pd.MultiIndex.from_frame(top[kcols], names=by) if len(by) > 1 else pd.Index(top["k0"], name=by[0])
        out = pd.Series(top["x"].to_numpy(), index=idx).sort_index()
        out = out.reindex(g.size().index)
    elif func == "nannunique":
        out = g.nunique()
    elif func == "nunique":
        out = g.nunique() + hasnan.astype(int)
    else:
        raise KeyError(func)
    if min_count:
        out = out.where(g.count() >= min_count, np.nan)
    return out


def reindex(ref: pd.Series, labels, fill) -> pd.Series:
    return ref.reindex(pd.Index(labels, name=ref.index.name)).fillna(fill) if fill is not None \
        else ref.reindex(pd.Index(labels, name=ref.index.name))


def frame(ref: pd.Series, col: str) -> pd.DataFrame:
    return ref.rename(col).reset_index()


def compare(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], cols: list[str],
            rtol: float = 1e-9, atol: float = 1e-9) -> str | None:
    """None when ``got`` equals ``want`` row for row (after sorting by the
    keys) within tolerance; NaN equals NaN and NULL."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    missing = [c for c in keys + cols if c not in got.columns]
    if missing:
        return f"missing columns {missing} in {list(got.columns)}"
    g = got.sort_values(keys, kind="stable").reset_index(drop=True)
    w = want.sort_values(keys, kind="stable").reset_index(drop=True)
    for c in keys:
        if not np.array_equal(g[c].to_numpy(np.float64), w[c].to_numpy(np.float64), equal_nan=True):
            return f"keys {c} differ"
    for c in cols:
        a = pd.to_numeric(g[c], errors="coerce").to_numpy(np.float64)
        b = pd.to_numeric(w[c], errors="coerce").to_numpy(np.float64)
        ok = np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c}[{i}] {a[i]!r} != {b[i]!r} ({int((~ok).sum())} rows differ)"
    return None


def scan_ref(pdf: pd.DataFrame, by: str, func: str, value: str, order: str) -> np.ndarray:
    """flox grouped scan output aligned to ``pdf``'s rows (NULL labels form
    one partition of their own): cumsum/cumprod propagate NaN, the nan*
    forms skip it, cumcount counts non-missing values, cummax/cummin skip
    missing values, ffill/bfill fill within the group, and shift, diff and
    pct_change look one row back (pandas ``pct_change(fill_method=None)``)."""
    d = pdf.sort_values([by, order], kind="stable")
    x = d[value].to_numpy(np.float64)
    k = d[by].fillna(-(2 ** 62)).to_numpy()
    out = np.empty_like(x)
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    ends = np.r_[starts[1:], len(x)]
    for s, e in zip(starts, ends):
        seg = x[s:e]
        miss = np.isnan(seg)
        if func in ("cumsum", "cumprod"):
            out[s:e] = np.cumsum(seg) if func == "cumsum" else np.cumprod(seg)
        elif func in ("nancumsum", "nancumprod"):
            out[s:e] = np.nancumsum(seg) if func == "nancumsum" else np.nancumprod(seg)
        elif func in ("ffill", "bfill"):
            ser = pd.Series(seg)
            out[s:e] = (ser.ffill() if func == "ffill" else ser.bfill()).to_numpy()
        elif func == "cumcount":
            out[s:e] = np.cumsum(~miss)
        elif func in ("cummax", "cummin"):
            # skips missing values; NULL before the group's first value
            acc = (np.fmax if func == "cummax" else np.fmin).accumulate(seg)
            out[s:e] = acc
        elif func in ("shift", "diff", "pct_change"):
            prev = np.r_[np.nan, seg[:-1]]
            out[s:e] = {"shift": prev, "diff": seg - prev,
                        "pct_change": seg / prev - 1.0}[func]
        else:
            raise KeyError(func)
    res = np.empty_like(out)
    res[d.index.to_numpy()] = out  # back to pdf's row order (pdf has a RangeIndex)
    return res


def rank_ref(pdf: pd.DataFrame, by: str, value: str, method: str) -> np.ndarray:
    return pdf.groupby(by)[value].rank(method=method).to_numpy(np.float64)


def ewm_ref(pdf: pd.DataFrame, by: str, value: str, order: str, alpha: float) -> np.ndarray:
    d = pdf.sort_values([by, order], kind="stable")
    out = d.groupby(by)[value].transform(lambda s: s.ewm(alpha=alpha).mean())
    return out.reindex(pdf.index).to_numpy(np.float64)


def fingerprint(a: np.ndarray) -> tuple[int, int, float]:
    """(rows, missing, sum of the rest) — what a verify query reads back."""
    a = np.asarray(a, dtype=np.float64)
    miss = np.isnan(a)
    return len(a), int(miss.sum()), float(a[~miss].sum())
