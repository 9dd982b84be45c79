"""The four seeded workloads: input generators, query lists and checks.

Each workload writes its inputs as parquet under a work directory and
hands the engine only those files.  A query is one public-API call (or a
short chain for the pipeline operators) plus its sink and its check.
Checks compare against numpy/pandas references computed from the
generator's own arrays (see ``reference.py`` for the flox semantics) or
against planted ground truth.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import reference as R

# Engine gate thresholds the workloads are sized against (bytes of plan
# statistics); recorded next to each input's stats in the run record.
GATES = {"quantile_driver_max_bytes": 12 << 20, "quantile_agg_max_bytes": 64 << 20,
         "blocked_route_min_bytes": 64 << 20}


@dataclass
class Query:
    name: str
    layer: str                      # core | scan | operators
    form: str                       # plain | shaped (core only) | ""
    build: Callable[[dict], Any]    # tables -> DataFrame (the public call)
    check: Callable[[pd.DataFrame], str | None] | None = None
    # N-row outputs name their output column here: instead of collecting
    # N rows, the query ends in one aggregate over that column (rows,
    # missing values, sum of the rest), which every row's value feeds
    fingerprint: str | None = None


@dataclass
class Workload:
    name: str
    why: str
    min_passes: int
    # table -> the (key, value) projection whose plan stats the gates see
    probe: dict = field(default_factory=dict)
    options: dict = field(default_factory=dict)

    def generate(self, seed: int, scale: float, out: str) -> dict:
        raise NotImplementedError

    def queries(self, inputs: dict) -> list[Query]:
        raise NotImplementedError


def _write(tab: pa.Table, path: str, **kw) -> str:
    pq.write_table(tab, path, **kw)
    return path


def _missing(rng, x: np.ndarray, nan_frac: float, null_frac: float) -> pa.Array:
    """Float column with NaN and NULL (both *missing* to flox)."""
    x = x.copy()
    x[rng.random(len(x)) < nan_frac] = np.nan
    return pa.array(x, mask=rng.random(len(x)) < null_frac)


def _as_pandas(tab: pa.Table) -> pd.DataFrame:
    return tab.to_pandas()  # NULL floats -> NaN, NULL ints -> float NaN


def _ok_reduce(pdf, by, func, value, out, keys=None, **kw):
    """Check for a plain groupby_reduce result collected to pandas."""
    keys = keys or by
    want = R.frame(R.reduce_ref(pdf, by, func, value, **kw), out)
    return lambda got: R.compare(got, want, keys, [out])


# ---------------------------------------------------------------- reductions
# Single-function plain calls (the SQL-text twin path): the common sum and
# count, and the functions that take their own plans (the gated quantile
# strategies, the two-stage modes) ...
REGISTRY_PLAIN = [
    # (func, by, value, extra kwargs)
    ("sum", "site", "v", {}), ("count", "site", "v", {}),
    ("nanquantile", "doy", "v", {"finalize_kwargs": {"q": 0.9}}),
    ("mode", "cell", "k", {}), ("nanmode", "site", "k", {}),
]
# ... and plain multi-function calls covering the rest of the registry
# (out name -> (func, value) or a spec dict); with the shaped calls below,
# every REDUCTIONS entry runs at least once.
REGISTRY_MULTI = [
    ("site", {"mean": ("mean", "v"), "nanmean": ("nanmean", "v"), "min": ("min", "v"),
              "nanmin": ("nanmin", "v"), "max": ("max", "v"), "nanmax": ("nanmax", "v"),
              "std": ("std", "v"), "nanstd": ("nanstd", "v"), "prod": ("prod", "p"),
              "nanprod": ("nanprod", "p"), "nansum_of_squares": ("nansum_of_squares", "v"),
              "nansum": ("nansum", "v"), "median": ("median", "v"),
              "quantile": {"func": "quantile", "value": "v", "finalize_kwargs": {"q": 0.25}},
              "first": ("first", "v"), "last": ("last", "v"), "nanfirst": ("nanfirst", "v"),
              "argmax": ("argmax", "v"), "argmin": ("argmin", "v"),
              "nanargmax": ("nanargmax", "v"), "nanargmin": ("nanargmin", "v")}),
    ("doy", {"len": ("len", "v"), "nanlen": ("nanlen", "v"), "var": ("var", "v"),
             "nanvar": {"func": "nanvar", "value": "v", "finalize_kwargs": {"ddof": 1}},
             "sum_of_squares": ("sum_of_squares", "v"), "all": ("all", "k"), "any": ("any", "k"),
             "nanmedian": ("nanmedian", "v"), "nannunique": ("nannunique", "k"),
             "nunique": ("nunique", "k")}),
]


def _spec(spec) -> tuple[str, str, dict]:
    if isinstance(spec, dict):
        return spec["func"], spec["value"], dict(spec.get("finalize_kwargs") or {})
    return spec[0], spec[1], {}


def _plain_query(fx, pdf, func, by, value, kw) -> Query:
    from flox_spark.aggregations import REDUCTIONS

    kw = dict(kw)
    if REDUCTIONS[func].needs_order:
        kw["order_by"] = "idx"
    fk = kw.get("finalize_kwargs") or {}
    ref_kw = {k: fk[k] for k in ("q", "ddof") if k in fk}
    return Query(
        f"plain.{func}.{by}", "core", "plain",
        lambda t: fx.groupby_reduce(t["t"], by, func=func, value=value, **kw),
        _ok_reduce(pdf, [by], func, value, func, **ref_kw),
    )


class ReduceSmall(Workload):
    def generate(self, seed, scale, out):
        rng = np.random.default_rng(seed)
        n = max(int(60_000 * scale), 600)
        site = rng.integers(0, 6, n).astype(np.int32)
        tab = pa.table({
            "idx": np.arange(n, dtype=np.int64),
            "site": pa.array(site, mask=rng.random(n) < 0.01),
            "doy": rng.integers(1, 367, n).astype(np.int32),
            "cell": rng.integers(0, 5000, n).astype(np.int64),
            "v": _missing(rng, rng.standard_normal(n) * 10, 0.03, 0.01),
            "w": _missing(rng, rng.uniform(0, 100, n), 0.03, 0.0),
            "p": rng.uniform(0.99, 1.01, n),
            "k": _missing(rng, rng.integers(0, 12, n).astype(np.float64), 0.03, 0.01),
        })
        return {"paths": {"t": _write(tab, os.path.join(out, "small.parquet"))},
                "pdf": _as_pandas(tab)}

    def queries(self, inputs):
        import flox_spark as fx
        from flox_spark.operators import grouped_topk

        pdf = inputs["pdf"]
        qs = [_plain_query(fx, pdf, f, b, v, kw) for f, b, v, kw in REGISTRY_PLAIN]
        for by, aggs in REGISTRY_MULTI:
            want = R.frame(R.reduce_ref(pdf, [by], "len", "v"), "__n")[[by]]
            for out, spec in aggs.items():
                func, value, fk = _spec(spec)
                want = want.merge(R.frame(R.reduce_ref(pdf, [by], func, value, **fk), out))
            qs.append(Query(f"plain.multi.{by}", "core", "plain",
                            lambda t, by=by, aggs=aggs: fx.groupby_reduce_multi(
                                t["t"], by, aggs=aggs, order_by="idx"),
                            check=lambda got, w=want, by=by, cols=list(aggs): R.compare(got, w, [by], cols)))

        # shaped calls: grid + fill, bins, min_count, dtype, multi-by,
        # positional with a grid, vector q, groupby_reduce_multi
        labels = list(range(-1, 7))
        want = R.frame(R.reindex(R.reduce_ref(pdf, ["site"], "nansum", "v"), labels, 0.0), "nansum")
        qs.append(Query("shaped.nansum.expected_fill", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "site", func="nansum", value="v",
                                                    expected_groups=[labels], fill_value=0.0),
                        check=lambda got, w=want: R.compare(got, w, ["site"], ["nansum"])))

        breaks = [0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334, 366]
        binned = pdf.assign(doy_bin=np.searchsorted(breaks, pdf["doy"].to_numpy(), side="left") - 1)
        ref = R.reduce_ref(binned, ["doy_bin"], "nanmean", "w").reindex(pd.Index(range(12), name="doy_bin"))
        want_bin = R.frame(ref, "nanmean").assign(doy_bin_left=breaks[:-1], doy_bin_right=breaks[1:])
        qs.append(Query("shaped.nanmean.isbin_labels", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "doy", func="nanmean", value="w",
                                                    expected_groups=[breaks], isbin=True,
                                                    bin_labels=True),
                        check=lambda got, w=want_bin: R.compare(
                            got, w, ["doy_bin"], ["nanmean", "doy_bin_left", "doy_bin_right"])))

        qs.append(Query("shaped.nansum.min_count", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "cell", func="nansum", value="v",
                                                    min_count=12, fill_value=np.nan),
                        check=_ok_reduce(pdf, ["cell"], "nansum", "v", "nansum", min_count=12)))

        f32 = pdf.assign(v32=pdf["v"].astype(np.float32).astype(np.float64))
        want32 = R.frame(R.reduce_ref(f32, ["site"], "nanmax", "v32"), "nanmax")
        qs.append(Query("shaped.nanmax.dtype32", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "site", func="nanmax", value="v",
                                                    dtype="float32"),
                        check=lambda got, w=want32: R.compare(got, w, ["site"], ["nanmax"],
                                                              rtol=1e-6)))

        qs.append(Query("shaped.nanmean.multi_by", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "site", "doy", func="nanmean", value="v"),
                        check=_ok_reduce(pdf, ["site", "doy"], "nanmean", "v", "nanmean")))

        grid = list(range(0, 368))
        want_pos = R.frame(R.reindex(R.reduce_ref(pdf, ["doy"], "nanlast", "v"), grid, -999.0), "nanlast")
        qs.append(Query("shaped.nanlast.order_grid", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "doy", func="nanlast", value="v",
                                                    order_by="idx", expected_groups=[grid],
                                                    fill_value=-999.0),
                        check=lambda got, w=want_pos: R.compare(got, w, ["doy"], ["nanlast"])))

        qv = [0.1, 0.5, 0.9]
        want_q = pd.concat([R.frame(R.reduce_ref(pdf, ["site"], "nanquantile", "v", q=q), "nanquantile")
                            .assign(q=q) for q in qv])
        qs.append(Query("shaped.nanquantile.vector_q", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "site", func="nanquantile", value="v",
                                                    finalize_kwargs={"q": qv}),
                        check=lambda got, w=want_q: R.compare(got, w, ["site", "q"],
                                                              ["nanquantile"])))

        want_m = (R.frame(R.reduce_ref(pdf, ["site"], "nansum", "v"), "s")
                  .merge(R.frame(R.reduce_ref(pdf, ["site"], "nanmean", "w"), "m"))
                  .merge(R.frame(R.reduce_ref(pdf, ["site"], "count", "v"), "c"))
                  .merge(R.frame(R.reduce_ref(pdf, ["site"], "nannunique", "k"), "u")))
        qs.append(Query("shaped.multi", "core", "shaped",
                        lambda t: fx.groupby_reduce_multi(
                            t["t"], "site", aggs={"s": ("nansum", "v"), "m": ("nanmean", "w"),
                                                  "c": ("count", "v"), "u": ("approx_nunique", "k")}),
                        check=lambda got, w=want_m: R.compare(got, w, ["site"], ["s", "m", "c"])
                        or R.compare(got, w, ["site"], ["u"], rtol=0.1, atol=1)))

        # one scan and one operator, so every layer is timed on this workload
        # NULL labels form their own partition in scans and top-k
        want_scan = R.fingerprint(R.scan_ref(pdf, "site", "nancumsum", "v", "idx"))
        qs.append(Query("scan.nancumsum.site", "scan", "",
                        lambda t: fx.groupby_scan(t["t"], "site", func="nancumsum", value="v",
                                                  order_by="idx"),
                        check=lambda got, w=want_scan: _check_fp(got["nancumsum"], w)))
        top = (pdf.dropna(subset=["v"]).sort_values(["site", "v", "idx"], ascending=[True, False, True])
               .groupby("site", dropna=False).head(3))
        qs.append(Query("operators.grouped_topk.site", "operators", "",
                        lambda t: grouped_topk(t["t"], "site", value="v", k=3, tiebreak="idx"),
                        check=lambda got, w=top: R.compare(got, w, ["site", "idx"], ["v"])))
        return qs


def _check_fp(col, want, rtol=1e-9):
    got = R.fingerprint(pd.to_numeric(col, errors="coerce").to_numpy(np.float64))
    if got[0] != want[0] or got[1] != want[1]:
        return f"fingerprint rows/missing {got[:2]} != {want[:2]}"
    if not np.isclose(got[2], want[2], rtol=rtol, atol=1e-6):
        return f"fingerprint sum {got[2]!r} != {want[2]!r}"
    return None


class ReduceLarge(Workload):
    """Plan statistics above every 64 MB gate: a wide payload column that
    no query reads puts the parquet files (and so the plan stats of every
    projection of them) past the large branches' thresholds."""

    def generate(self, seed, scale, out):
        rng = np.random.default_rng(seed)
        n = max(int(200_000 * scale), 2000)
        # Spark scales a file's size by (projected row width / full row
        # width): 20/49 for a (key, value) projection of this schema.  Size
        # the payload so that projection's stats clear 64 MB by 15%.
        target = int(1.15 * GATES["quantile_agg_max_bytes"] * 49 / 20) if scale >= 1 else 1 << 20
        width = max(8, (target // n) // 4 * 4)
        blob = base64.b64encode(rng.bytes(n * width // 4 * 3))
        offsets = np.arange(0, n * width + 1, width, dtype=np.int32)
        payload = pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(blob))
        tab = pa.table({
            "idx": np.arange(n, dtype=np.int32),
            "doy": rng.integers(1, 367, n).astype(np.int32),
            "cell": rng.integers(0, 50_000, n).astype(np.int32),
            "v": _missing(rng, rng.standard_normal(n) * 10, 0.02, 0.01),
            "k": pa.array(rng.integers(0, 50, n).astype(np.int8), mask=rng.random(n) < 0.02),
            "payload": payload,
        })
        path = _write(tab, os.path.join(out, "large.parquet"), compression="none",
                      use_dictionary=["doy", "cell", "k"])
        return {"paths": {"t": path}, "pdf": _as_pandas(tab.drop(["payload"]))}

    def queries(self, inputs):
        import flox_spark as fx

        pdf = inputs["pdf"]
        spec = [
            ("nansum", "doy", "v", {}), ("sum", "cell", "v", {}),
            ("nanmean", "doy", "v", {}), ("mean", "cell", "v", {}),
            ("nanvar", "doy", "v", {}), ("var", "cell", "v", {}),
            ("nanargmax", "doy", "v", {}), ("argmax", "cell", "v", {}),
            ("count", "doy", "v", {}), ("count", "cell", "v", {}),
            ("nanquantile", "doy", "v", {"finalize_kwargs": {"q": 0.9}}),
            ("nanquantile", "doy", "v", {"finalize_kwargs": {"q": 0.1}}),
            ("nanmedian", "doy", "v", {}), ("nanmin", "cell", "v", {}),
            ("nanmode", "doy", "k", {}), ("mode", "cell", "k", {}),
            ("nannunique", "doy", "k", {}), ("nunique", "cell", "k", {}),
            ("nanmax", "doy", "v", {}), ("nanlen", "cell", "v", {}),
        ]
        qs = [_plain_query(fx, pdf, f, b, v, kw) for f, b, v, kw in spec]
        for by in ("doy", "cell"):
            want = (R.frame(R.reduce_ref(pdf, [by], "nansum", "v"), "s")
                    .merge(R.frame(R.reduce_ref(pdf, [by], "nanvar", "v"), "var"))
                    .merge(R.frame(R.reduce_ref(pdf, [by], "nanmax", "v"), "mx")))
            qs.append(Query(f"shaped.multi.{by}", "core", "shaped",
                            lambda t, by=by: fx.groupby_reduce_multi(
                                t["t"], by, aggs={"s": ("nansum", "v"), "var": ("nanvar", "v"),
                                                  "mx": ("nanmax", "v")}),
                            check=lambda got, w=want, by=by: R.compare(got, w, [by], ["s", "var", "mx"])))
        return qs


# --------------------------------------------------------------------- scans
def fingerprint_sink(df, col: str):
    """(rows, missing, sum of non-missing) of ``col`` as one Spark aggregate."""
    from pyspark.sql import functions as F

    c = F.col(col).cast("double")
    miss = c.isNull() | F.isnan(c)
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(F.sum(miss.cast("long")), F.lit(0)).alias("m"),
                  F.coalesce(F.sum(F.when(~miss, c)), F.lit(0.0)).alias("s"))


def _ok_fp(want, rtol=1e-9):
    def check(got: pd.DataFrame):
        row = got.iloc[0]
        if int(row["n"]) != want[0] or int(row["m"]) != want[1]:
            return f"rows/missing {(int(row['n']), int(row['m']))} != {want[:2]}"
        if not np.isclose(float(row["s"]), want[2], rtol=rtol, atol=1e-6):
            return f"sum {float(row['s'])!r} != {want[2]!r}"
        return None
    return check


class ScanSkewed(Workload):
    """A few giant groups.  ``route_to_blocked`` compares mean rows per
    group with per-operator crossovers; the workload's options scale those
    crossovers (and the 64 MB stats gate) by 1/1600, keeping their ratios,
    so ewm and rank cross into the blocked plan while cumsum and shift stay
    on the window plan at a size one run can afford."""

    def generate(self, seed, scale, out):
        rng = np.random.default_rng(seed)
        per = max(int(4_000 * scale), 200)
        sizes = (per * rng.uniform(0.85, 1.15, 4)).astype(int)
        key = np.repeat(np.arange(4, dtype=np.int32), sizes)
        n = len(key)
        x = np.cumsum(rng.standard_normal(n)) * 0.1 + rng.standard_normal(n)
        x[rng.random(n) < 0.01] = np.nan
        starts = np.r_[0, np.cumsum(sizes)[:-1]]
        for s, m in zip(starts, sizes):      # NaN runs at both group edges
            x[s:s + 25] = np.nan
            x[s + m - 25:s + m] = np.nan
        r = rng.uniform(0.999, 1.001, n)     # for products and ratios
        order = rng.permutation(n)           # rows arrive unordered
        tab = pa.table({"key": key[order], "ts": np.arange(n, dtype=np.int64)[order],
                        "v": x[order], "r": r[order]})
        return {"paths": {"t": _write(tab, os.path.join(out, "events.parquet"))},
                "pdf": _as_pandas(tab)}

    # One scan of each kind rather than every SCANS entry: the window-plan
    # scans all cost about the same, and a shorter pass leaves room for
    # more passes per run, which is what keeps the figures steady.
    SCAN_FUNCS = ("cumsum", "ffill", "bfill", "shift")

    def queries(self, inputs):
        import flox_spark as fx
        from flox_spark.operators import grouped_topk

        pdf = inputs["pdf"]
        # window-plan bfill is quadratic in group size (5 s at 6k rows per
        # group, 106 s at 30k on 4 cores), so it runs on a 1/16 slice
        sliced = pdf[pdf["ts"] % 16 == 0].reset_index(drop=True)
        qs = []
        for func in self.SCAN_FUNCS:
            src = sliced if func == "bfill" else pdf
            want = R.fingerprint(R.scan_ref(src, "key", func, "v", "ts"))

            def build(t, f=func):
                df = t["t"].filter("ts % 16 = 0") if f == "bfill" else t["t"]
                return fx.groupby_scan(df, "key", func=f, value="v", order_by="ts", plan="auto")
            qs.append(Query(f"scan.{func}.auto", "scan", "", build, _ok_fp(want, rtol=1e-7), func))
        want = R.fingerprint(R.scan_ref(pdf, "key", "diff", "v", "ts"))
        qs.append(Query("scan.diff.blocked", "scan", "",
                        lambda t: fx.groupby_shift_blocked(t["t"], "key", value="v", order_by="ts",
                                                           func="diff"),
                        _ok_fp(want), "diff"))
        want = R.fingerprint(R.rank_ref(pdf, "key", "v", "average"))
        qs.append(Query("scan.rank_average.auto", "scan", "",
                        lambda t: fx.groupby_rank(t["t"], "key", value="v", method="average",
                                                  plan="auto"),
                        _ok_fp(want), "rank"))
        want = R.fingerprint(R.ewm_ref(pdf, "key", "v", "ts", 0.1))
        qs.append(Query("scan.ewm.auto", "scan", "",
                        lambda t: fx.groupby_ewm(t["t"], "key", value="v", order_by="ts", alpha=0.1,
                                                 out="ewm", plan="auto"),
                        _ok_fp(want, rtol=1e-7), "ewm"))
        # one reduction (plain and shaped) and one operator per pass
        qs.append(Query("plain.count.key", "core", "plain",
                        lambda t: fx.groupby_reduce(t["t"], "key", func="count", value="v"),
                        check=_ok_reduce(pdf, ["key"], "count", "v", "count", order="ts")))
        grid = list(range(6))
        want_g = R.frame(R.reindex(R.reduce_ref(pdf, ["key"], "nanmean", "v", order="ts"), grid, 0.0),
                         "nanmean")
        qs.append(Query("shaped.nanmean.expected_fill", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["t"], "key", func="nanmean", value="v",
                                                    expected_groups=[grid], fill_value=0.0),
                        check=lambda got, w=want_g: R.compare(got, w, ["key"], ["nanmean"])))
        top = (pdf.dropna(subset=["v"]).sort_values(["key", "v", "ts"], ascending=[True, False, True])
               .groupby("key").head(5))
        qs.append(Query("operators.grouped_topk.key", "operators", "",
                        lambda t: grouped_topk(t["t"], "key", value="v", k=5, tiebreak="ts"),
                        check=lambda got, w=top: R.compare(got, w, ["key", "ts"], ["v"])))
        return qs


# ---------------------------------------------------------------- documents
_STOP = ["the", "a", "of", "and", "is", "to", "in", "that", "it", "for"]


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, rng.integers(4, 9))))
    return sorted(words)


class DocsPipeline(Workload):
    """Documents are walks of a sparse word Markov chain (so a bigram model
    trained on them is sharp); gibberish docs use tokens the chain never
    emits, so their perplexity sits near the vocabulary size."""

    def generate(self, seed, scale, out):
        rng = np.random.default_rng(seed)
        n_base = max(int(300 * scale), 40)
        vocab = _vocab(rng, 200)
        succ = {w: list(rng.choice(vocab, 3)) + [_STOP[rng.integers(len(_STOP))]] for w in vocab}
        succ.update({s: list(rng.choice(vocab, 4)) for s in _STOP})
        states = vocab + _STOP

        def doc():
            # a walk, redrawn until it clears the quality rules by a margin
            while True:
                w = states[rng.integers(len(states))]
                words = [w]
                for _ in range(rng.integers(30, 60)):
                    w = succ[w][rng.integers(4)]
                    words.append(w)
                stop = sum(x in _STOP for x in words) / len(words)
                mean_len = sum(map(len, words)) / len(words)
                if stop >= 0.1 and 3.5 <= mean_len <= 10:
                    return words

        texts, kind, family = [], [], []
        for i in range(n_base):
            texts.append(" ".join(doc()))
            kind.append("base")
            family.append(i)
        n_exact = n_base // 10
        for j in rng.choice(n_base, n_exact, replace=False):
            texts.append(texts[j])
            kind.append("exact")
            family.append(int(j))
        n_near = n_base // 10
        for j in rng.choice(n_base, n_near, replace=False):
            w = texts[j].split()
            w[rng.integers(len(w))] = "".join(rng.choice(list("qxzjkvw"), 7))
            texts.append(" ".join(w))
            kind.append("near")
            family.append(int(j))
        n_bad = max(n_base // 20, 2)
        for _ in range(n_bad // 2):      # too few tokens
            texts.append(" ".join(rng.choice(vocab, 3)))
            kind.append("short")
            family.append(-1)
        for _ in range(n_bad - n_bad // 2):  # gibberish: over-long tokens, no stopwords
            texts.append(" ".join("".join(rng.choice(list("qxzjkvw"), 16)) for _ in range(30)))
            kind.append("gibberish")
            family.append(-1)
        docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                             "source": rng.integers(0, 4, len(texts)).astype(np.int32),
                             "text": texts, "kind": kind, "family": family})
        docs["n_words"] = docs["text"].str.split().str.len().astype(np.float64)

        # clustered embeddings with planted near-duplicate vectors
        dim, k = 16, 6
        n_vec = max(int(400 * scale), 60)
        centers = rng.standard_normal((k, dim)) * 3.0
        label = rng.integers(0, k, n_vec)
        vecs = centers[label] + rng.standard_normal((n_vec, dim)) * 2.0
        n_dup = n_vec // 20
        src = rng.choice(n_vec, n_dup, replace=False)
        vecs = np.vstack([vecs, vecs[src] + rng.standard_normal((n_dup, dim)) * 1e-4])
        label = np.r_[label, label[src]]
        emb = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                            "embedding": list(vecs), "label": label})
        paths = {
            "docs": _write(pa.Table.from_pandas(docs[["doc_id", "source", "text", "n_words"]],
                                                preserve_index=False),
                           os.path.join(out, "docs.parquet")),
            "emb": _write(pa.table({"vec_id": emb["vec_id"].to_numpy(),
                                    "embedding": pa.array([v.tolist() for v in vecs],
                                                          type=pa.list_(pa.float64()))}),
                          os.path.join(out, "emb.parquet")),
        }
        return {"paths": paths, "docs": docs, "emb": emb, "dim": dim, "k": k,
                "dup_src": src, "n_vec": n_vec}

    def queries(self, inputs):
        import flox_spark as fx
        from flox_spark import operators as ops

        docs, emb = inputs["docs"], inputs["emb"]
        dim, k = inputs["dim"], inputs["k"]
        qs = []

        first_id = docs.groupby("text")["doc_id"].min()
        want_exact = pd.DataFrame({"keep_id": first_id.to_numpy(),
                                   "n_dups": docs.groupby("text").size().reindex(first_id.index).to_numpy()})
        qs.append(Query("operators.dedup_exact", "operators", "",
                        lambda t: ops.dedup_exact(t["docs"]),
                        check=lambda got, w=want_exact: R.compare(got[["keep_id", "n_dups"]], w,
                                                                  ["keep_id"], ["n_dups"])))

        families = docs[docs["kind"].isin(["exact", "near"])]
        qs.append(Query("operators.minhash_clusters", "operators", "",
                        lambda t: ops.dedup_clusters(
                            ops.minhash_candidates(t["docs"], max_bucket=None)
                            .select("id_a", "id_b")),
                        check=lambda got, f=families: _check_families(got, f)))

        good = set(docs.loc[docs["kind"].isin(["base", "exact", "near"]), "doc_id"])
        bad = set(docs.loc[docs["kind"].isin(["short", "gibberish"]), "doc_id"])
        qs.append(Query("operators.quality_filter", "operators", "",
                        lambda t: ops.quality_filter(t["docs"]).select("doc_id"),
                        check=lambda got: _check_kept(got["doc_id"], good, bad)))

        n_base = int((docs["kind"] == "base").sum())

        def ppl_filter(t):
            # trained on the clean base docs; gibberish scores ~ vocabulary
            # size (>= 210), chain walks score far below the 60 cut
            ref = t["docs"].filter(f"doc_id < {n_base}")
            model = ops.train_bigram_lm(ref)
            return ops.perplexity_filter(t["docs"], max_ppl=60.0, model=model).select("doc_id")
        gib = set(docs.loc[docs["kind"] == "gibberish", "doc_id"])
        qs.append(Query("operators.bigram_lm_perplexity_filter", "operators", "",
                        ppl_filter,
                        check=lambda got: _check_ppl(got["doc_id"], set(docs["doc_id"]), gib)))

        def ppl_scores(t):
            model = ops.train_bigram_lm(t["docs"].filter(f"doc_id < {n_base}"))
            return ops.doc_perplexity(t["docs"], model=model)
        qs.append(Query("operators.bigram_lm_doc_perplexity", "operators", "", ppl_scores,
                        check=lambda got: _check_scores(got, docs, gib)))

        n_short = int((docs["kind"] == "short").sum())
        qs.append(Query("operators.quality_filter_report", "operators", "",
                        lambda t: ops.quality_filter_report(t["docs"]),
                        check=lambda got: _check_report(got, len(good), n_short, len(gib))))

        dups = set(emb["vec_id"].iloc[inputs["n_vec"]:])
        qs.append(Query("operators.semantic_dedup", "operators", "",
                        lambda t: ops.semantic_dedup(t["emb"], k=4, threshold=0.999, dim=dim)
                        .select("vec_id"),
                        check=lambda got: _check_semdedup(got["vec_id"], set(emb["vec_id"]), dups)))

        def kmeans(t):
            cents = ops.kmeans_fit(t["emb"], k, max_iter=3)
            lab = ops.assign_clusters(t["emb"], cents)
            return lab.join(cents.withColumnRenamed("__cid", "cluster"), "cluster").select(
                "vec_id", "cluster", "centroid")
        qs.append(Query("operators.kmeans_assign", "operators", "", kmeans,
                        check=lambda got: _check_assign(got, emb, inputs["dup_src"], inputs["n_vec"])))

        # one reduction (plain and shaped) and one scan per pass
        qs.append(Query("plain.nanmean.source", "core", "plain",
                        lambda t: fx.groupby_reduce(t["docs"], "source", func="nanmean", value="n_words"),
                        check=_ok_reduce(docs, ["source"], "nanmean", "n_words", "nanmean",
                                         order="doc_id")))
        grid = list(range(6))
        want_g = R.frame(R.reindex(R.reduce_ref(docs, ["source"], "nansum", "n_words", order="doc_id"),
                                   grid, 0.0), "nansum")
        qs.append(Query("shaped.nansum.expected_fill", "core", "shaped",
                        lambda t: fx.groupby_reduce(t["docs"], "source", func="nansum", value="n_words",
                                                    expected_groups=[grid], fill_value=0.0),
                        check=lambda got, w=want_g: R.compare(got, w, ["source"], ["nansum"])))
        want_scan = R.fingerprint(R.scan_ref(docs, "source", "cumsum", "n_words", "doc_id"))
        qs.append(Query("scan.cumsum.source", "scan", "",
                        lambda t: fx.groupby_scan(t["docs"], "source", func="cumsum", value="n_words",
                                                  order_by="doc_id").select("doc_id", "cumsum"),
                        check=lambda got, w=want_scan: _check_fp(got["cumsum"], w)))
        return qs


def _check_families(got: pd.DataFrame, families: pd.DataFrame) -> str | None:
    """Every planted exact duplicate shares its original's cluster; at
    least 80% of planted near duplicates do (LSH is probabilistic)."""
    cid = dict(zip(got["doc_id"], got["cluster_id"]))
    miss_exact, miss_near = 0, 0
    for d, fam, kind in zip(families["doc_id"], families["family"], families["kind"]):
        same = d in cid and fam in cid and cid[d] == cid[fam]
        if not same:
            if kind == "exact":
                miss_exact += 1
            else:
                miss_near += 1
    n_near = int((families["kind"] == "near").sum())
    if miss_exact:
        return f"{miss_exact} planted exact duplicates not clustered"
    if miss_near > 0.2 * n_near:
        return f"{miss_near}/{n_near} planted near duplicates not clustered"
    return None


def _check_kept(got, good: set, bad: set) -> str | None:
    kept = set(got)
    if kept & bad:
        return f"{len(kept & bad)} planted low-quality docs kept"
    if good - kept:
        return f"{len(good - kept)} good docs dropped"
    return None


def _check_ppl(got, all_ids: set, gib: set) -> str | None:
    kept = set(got)
    if not kept <= all_ids:
        return "unknown ids in output"
    if kept & gib:
        return f"{len(kept & gib)} gibberish docs kept"
    if len(kept) < 0.9 * (len(all_ids) - len(gib)) - len(gib):
        return f"only {len(kept)} of {len(all_ids)} docs kept"
    return None


def _check_scores(got: pd.DataFrame, docs: pd.DataFrame, gib: set) -> str | None:
    """One score per doc; every gibberish doc above the 60 cut, nine in
    ten chain walks below it."""
    if len(got) != len(docs):
        return f"{len(got)} scores for {len(docs)} docs"
    ppl = dict(zip(got["doc_id"], got["ppl"]))
    if any(not ppl[d] > 60 for d in gib):
        return "a gibberish doc scored under 60"
    walks = docs.loc[docs["kind"].isin(["base", "exact", "near"]), "doc_id"]
    low = sum(1 for d in walks if ppl[d] is not None and ppl[d] <= 60)
    if low < 0.9 * len(walks):
        return f"only {low}/{len(walks)} chain walks scored under 60"
    return None


def _check_report(got: pd.DataFrame, n_good: int, n_short: int, n_gib: int) -> str | None:
    """Per-reason drop counts match the planted defects."""
    counts = {str(r): int(c) for r, c in zip(got.iloc[:, 0], got.iloc[:, 1])}
    want = {"kept": n_good, "n_tokens": n_short, "mean_tok_len": n_gib}
    return None if counts == want else f"report {counts} != {want}"


def _check_semdedup(got, all_ids: set, dups: set) -> str | None:
    kept = set(got)
    want = all_ids - dups
    if kept != want:
        return f"kept {len(kept)} != {len(want)} (extra {len(kept - want)}, missing {len(want - kept)})"
    return None


def _check_assign(got: pd.DataFrame, emb: pd.DataFrame, dup_src, n_vec) -> str | None:
    """Every vector sits with its nearest fitted centroid, and planted
    duplicate vectors share their original's cluster.  (Which generator
    clusters a k-means run recovers depends on its seeding, so cluster
    identity is checked through the duplicates, not by purity.)"""
    lab = dict(zip(got["vec_id"], got["cluster"]))
    if len(lab) != len(emb):
        return f"{len(lab)} assignments for {len(emb)} vectors"
    for i, s in enumerate(dup_src):
        if lab[n_vec + i] != lab[int(s)]:
            return f"duplicate vector {n_vec + i} not with its original {int(s)}"
    cents = got.drop_duplicates("cluster")
    cmat = np.array([np.asarray(c, dtype=np.float64) for c in cents["centroid"]])
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb.set_index("vec_id").loc[got["vec_id"], "embedding"]])
    d = ((vecs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
    own = d[np.arange(len(got)), pd.Index(cents["cluster"]).get_indexer(got["cluster"])]
    if (own > d.min(axis=1) * (1 + 1e-9) + 1e-9).any():
        return f"{int((own > d.min(axis=1) * (1 + 1e-9) + 1e-9).sum())} vectors not at their nearest centroid"
    return None


WORKLOADS: dict[str, Workload] = {
    "reduce_small": ReduceSmall(
        "reduce_small", "60k rows under every stats gate; registry in plain and shaped calls; build, "
        "Catalyst and job floors dominate. 2 passes of 17 queries, tail mean beyond p65.",
        min_passes=2, probe={"t": ["doy", "v"]}),
    "scan_skewed": ScanSkewed(
        "scan_skewed", "4 giant groups, NaN edges; N-row scans, rank, ewm; both blocked_route "
        "branches at 1/1600 crossovers; Arrow kernels. 2 passes of 10 queries, tail mean beyond p45.",
        min_passes=2, probe={"t": ["key", "v"]},
        options={"blocked_route_min_bytes": (64 << 20) // 1600, "blocked_route_ewm_rows": 1_250,
                 "blocked_route_rank_rows": 2_500, "blocked_route_scan_rows": 5_000}),
    # Runnable by name (and by --workload all) but outside BENCHMARK.json:
    # with them the benchmark's runs no longer fit its time budget.
    "reduce_large": ReduceLarge(
        "reduce_large", "Stats above every 64 MB gate (payload column): quantile refine, the large "
        "branches tier-1 never runs; doy and 5e4-label groupers.",
        min_passes=1, probe={"t": ["doy", "v"]}),
    "docs_pipeline": DocsPipeline(
        "docs_pipeline", "Planted duplicate docs and vectors: dedup, minhash, quality, bigram LM, "
        "semdedup, kmeans; the operators layer.",
        min_passes=2, probe={"docs": ["source", "n_words"], "emb": ["vec_id", "embedding"]}),
}
