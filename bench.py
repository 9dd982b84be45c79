"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Query shapes mirror the reference's ASV workload classes (BASELINE.md):
few-groups/many-rows (q1_sum), high-cardinality groupers (prod_order,
multiby), resampling/climatology-style derived keys (doy_mean),
quantiles, windowed scans.  Large results are forced with a noop sink
(no driver collect) — the 100 TB posture.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod

# best-of-N per query (both engines): single-shot timings at sf0.1 mix
# real cost with first-run JIT/page-cache noise and ambient machine
# load; the minimum is the standard steady-state estimator
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2") or 2))
# absolute per-query wall budget (sec) — flags slow queries even when
# the DuckDB denominator is <0.2s or missing (see flagged_wall_over_budget)
WALL_BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_WALL_BUDGET", "5.0") or 5.0)
from flox_spark.session import get_spark

BENCH_QUERIES = [
    "sum",            # TPC-H Q1 shape: 600k rows -> 6 groups
    "mean",
    "var",
    "prod",           # high-card: one group per order (~150k at sf0.1)
    "quantile",       # exact p90
    "median",
    "multiby_highcard",
    "highcard_random",  # RandomBigArray shape: 5000+ uniform groups
    "dayofyear_mean",  # climatology shape (ERA5 benchmarks)
    "monthhour_sum",   # compound derived-time grouper (ERA5MonthHour)
    "binned_count",
    "argmax",
    "first",
    "mode",
    "scan_cumsum",    # window scan over events
    "scan_ffill",
    "q1_multi",       # 6 aggregates, one pass
    "dedup_exact",    # pipeline ops over documents/embeddings
    "minhash_pairs",
    "minhash_pairs_xx",  # xxhash64 production-hash twin
    "text_quality",
    "simhash",
    "simhash_xx",      # xxhash64 production-hash twin
    "ann_topk",
    "ivf_topk",
    "multimodal_features",
    "sessionize",       # window sessionization over events
    "session_stats",    # native session_window rollup
    "asof_join",        # union+window as-of join
    "sample_group",     # WindowGroupLimit per-group draw
    "minhash_bands",    # row-local streaming-capable banding
    "pack_sequences",   # FFD packing via mapInPandas (invariant oracle)
    "grouped_topk",     # WindowGroupLimit top-k per group
    "nunique",          # exact distinct-count reduction
    "redact_pii",       # regex projection chain
    "boilerplate",      # doc-frequency join + reassembly
    "funnel",           # forward as-of + aggregate
    "kmeans",           # one Lloyd iteration kernel
    "range_join",       # bucketed interval join (equi-bucket plan)
    "heavy_hitters",    # exact frequent tokens over documents
    "salted_sum",       # declared-salt two-phase reduction
    "simhash_pairs",    # banded hamming near-dup pairs
    "chunk_docs",       # overlapping token-window chunking
    "decontaminate",    # n-gram benchmark decontamination
    "quality_report",   # quality-filter drop-reason accounting
    "profile",          # one-pass table profiling
    "weighted_mean",    # fused xarray-.weighted() pass
    "frame_sample",     # declarative binary frame slicing
    "quantile_sort",    # bounded-memory exact quantile strategy
    "sample_weighted",  # Efraimidis-Spirakis weighted draw
]

# round-5/6 wave, benchmarked SEPARATELY so the r2-r5 BENCH_QUERIES
# baseline series stays comparable across rounds; same best-of-N
# protocol, reported under "extra"/"extra_net_ratio" in the same JSON
# line.  Regressions in the newer operators become visible without
# perturbing the historical totals.
BENCH_EXTRA = [
    "perplexity",       # bigram-LM self-perplexity over documents
    "perplexity_filter",
    "fuzzy_join",       # char-gram banded entity resolution
    "semdedup_pairs",   # k-means-cell-pruned semantic dedup
    "semdedup",
    "winsorize",        # per-group quantile clipping
    "value_counts",     # per-group distinct-value shares
    "upsample_ffill",   # time-grid upsampling
    "skew",             # anchor-shifted moment stats
    "kurtosis",
    "label_encode",
    "frequency_encode",
    "rank_pct",
    "k_anonymity",
    "minhash_estimate",
    "ewm_mean",         # Arrow-hatch EWM recurrence
    "leakage_split",    # near-dup-aware train/test split
    # r11 wave: the pipeline composite + the forced dim-768 Arrow
    # kernels (invariant-oracle rows since r13/r14 — their DuckDB
    # side is a cheap violation-counter recompute, declared in
    # invariant_audit_rows; wall budget still applies).  neardup_768
    # stays correctness-only: its wall is dominated by the deliberate
    # 3 GB pair-expansion stress.
    "dedup_documents",
    "ann_topk_768",
    "lsh_sig_768",
]


TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def force(df) -> int:
    """Evaluate fully without driver collect."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def duckdb_times(sf_dir: str, names: list[str]) -> dict[str, float]:
    """The bench denominator: each query's oracle SQL timed in DuckDB
    on the same parquet (BASELINE.md publishes no absolute reference
    numbers, so a tuned single-node engine on identical data is the
    'within 2x' yardstick).  Results are materialized via fetchall."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    con.sql(oracles["sum"]).fetchall()  # warm parquet metadata
    out: dict[str, float] = {}
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        best = None
        for _ in range(N_RUNS):
            t0 = time.perf_counter()
            try:
                con.sql(sql).fetchall()
            except Exception as e:
                print(f"duckdb {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                continue  # keep any successful run's timing
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 4) if best is not None else -1.0
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("flox_spark_bench")
    qs = entrymod.queries()

    # warm the JVM + parquet footers once with the cheapest query
    force(qs["sum"](spark, sf_dir))

    # per-query Spark JOB counts ride along with the walls: sub-second
    # sf0.1 queries are dominated by the per-job scheduling floor, so a
    # slow-box capture inflates every wall by (njobs x floor drift) with
    # zero code change.  Tagging each run with a job group and counting
    # its jobs lets the record carry a floor-honest flag list next to
    # the raw one (r10 VERDICT #4: the driver box ran a uniform 3x-slow
    # floor and produced three headline flags that did not reproduce).
    tracker = spark.sparkContext.statusTracker()
    job_counts: dict[str, int] = {}
    # per-query BUILD time (DataFrame construction: py4j plan assembly
    # plus any gated plan-build collects — winsorize fences, lm model,
    # semdedup seeds/sizes).  The r11 SCALE decomposition showed this
    # driver-side term dominating the residual flag-line gap
    # (semdedup_pairs: 0.7 s of its 1.1 s wall); recording it per run
    # lets the record separate fixed per-QUERY driver cost (amortized
    # by plan reuse in a real pipeline) from per-DATA execution cost.
    # The primary wall stays build+exec — the protocol is unchanged.
    build_s: dict[str, float] = {}

    def run_set(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            best = None
            for run_i in range(N_RUNS):
                spark.catalog.clearCache()  # isolate persisted shared frames
                group = f"bench:{name}:{run_i}"
                spark.sparkContext.setJobGroup(group, name)
                t0 = time.perf_counter()
                try:
                    df = qs[name](spark, sf_dir)
                    tb = time.perf_counter() - t0
                    force(df)
                except Exception as e:  # never lose the whole bench to one query
                    print(f"bench query {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    continue  # keep any successful run's timing
                finally:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                dt = time.perf_counter() - t0
                if best is None or dt < best:
                    best = dt
                    build_s[name] = round(tb, 4)
                    try:
                        job_counts[name] = len(tracker.getJobIdsForGroup(group))
                    except Exception:
                        pass
            out[name] = round(best, 4) if best is not None else -1.0
        return out

    # contention calibration: the same trivial query timed before and
    # after the sweep.  End-of-round capture environments have shown
    # up-to-30x inflated TAIL walls (a 45s record for a query that
    # times at 1.4s controlled) with zero code change — when
    # floor_end >> floor_start, the absolute walls in THIS record are
    # contaminated by ambient load and per-query "regressions" should
    # be re-measured before anyone optimizes them.
    t0 = time.perf_counter()
    force(qs["sum"](spark, sf_dir))
    floor_start = round(time.perf_counter() - t0, 4)

    times = run_set(BENCH_QUERIES)
    extra_times = run_set(BENCH_EXTRA)

    # plan-REUSE walls for the fixed-cost watch list (r12 VERDICT
    # next #3/#4): build the DataFrame once, execute twice, record the
    # second execution — the amortized per-batch cost a real pipeline
    # pays after the first run (plan, codegen, and literal collects
    # all cached).  wall - reuse_s is the total per-BUILD fixed term,
    # a superset of build_s (it adds first-execution codegen compile).
    # Measured r13 at sf0.1: semdedup_pairs 1.33 fresh vs 0.38 reused
    # (0.9x DuckDB), perplexity_filter 1.11 vs 0.59.
    reuse_s: dict[str, float] = {}
    for name in ("semdedup_pairs", "perplexity_filter", "semdedup",
                 "decontaminate"):
        try:
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            force(df)
            best_r = None
            for _ in range(2):
                t0 = time.perf_counter()
                force(df)
                dt = time.perf_counter() - t0
                if best_r is None or dt < best_r:
                    best_r = dt
            reuse_s[name] = round(best_r, 4)
        except Exception as e:
            print(f"reuse probe {name} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)

    t0 = time.perf_counter()
    force(qs["sum"](spark, sf_dir))
    floor_end = round(time.perf_counter() - t0, 4)

    duck = duckdb_times(sf_dir, BENCH_QUERIES)
    extra_duck = duckdb_times(sf_dir, BENCH_EXTRA)
    ratios = {
        n: round(times[n] / duck[n], 2)
        for n in BENCH_QUERIES
        if times.get(n, -1) > 0 and duck.get(n, -1) > 0
    }
    total = round(sum(t for t in times.values() if t >= 0), 4)
    duck_total = round(sum(t for t in duck.values() if t >= 0), 4)
    # fixed per-query Spark cost (py4j planning round-trips + codegen
    # compile + job scheduling) dominates sub-second queries at sf0.1
    # and amortizes away at real scale; the cheapest query is a direct
    # measurement of that floor.  net ratio compares MARGINAL cost.
    floor = min((t for t in times.values() if t > 0), default=0.0)
    net_ratios = {
        n: round(max(times[n] - floor, 0.0) / duck[n], 2)
        for n in ratios
    }
    extra_net = {
        n: round(max(extra_times[n] - floor, 0.0) / extra_duck[n], 2)
        for n in BENCH_EXTRA
        if extra_times.get(n, -1) > 0 and extra_duck.get(n, -1) > 0
    }
    # floor-honest variant (r10 VERDICT #4): a query's fixed cost is
    # njobs x the PER-JOB scheduling floor, not one flat floor — on a
    # uniformly slow box the raw net flags light up for multi-job
    # queries whose plans are at their structural job floors.  The
    # per-job floor is the cheapest query's wall over its own job
    # count; subtracting njobs x that floor measures marginal work the
    # way the SCALE.md decompositions do.  Raw flags stay (the gate);
    # this list is the adjudication aid.
    floor_name = min(
        (n for n, t in times.items() if t > 0), key=lambda n: times[n], default=None
    )
    floor_per_job = (
        floor / max(1, job_counts.get(floor_name, 1)) if floor_name else 0.0
    )

    def net_of_floor(walls: dict[str, float], denom: dict[str, float]):
        return {
            n: round(
                max(walls[n] - job_counts.get(n, 1) * floor_per_job, 0.0)
                / denom[n],
                2,
            )
            for n in walls
            if walls.get(n, -1) > 0 and denom.get(n, -1) > 0
        }

    nof = net_of_floor(times, duck)
    extra_nof = net_of_floor(extra_times, extra_duck)
    # sf1 extras evidence (VERDICT r9 #1): tools/bench_scale.py
    # --extras-sf1 records the four flag-line extras at 10x data where
    # the per-job scheduling floor amortizes; if that capture exists,
    # surface it here so the driver record carries the scale answer.
    extras_sf1 = None
    sf1_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SCALE_extras_sf1.json"
    )
    if os.path.exists(sf1_path):
        try:
            with open(sf1_path) as f:
                extras_sf1 = json.load(f)
        except Exception:
            extras_sf1 = {"err": "unreadable SCALE_extras_sf1.json"}

    # DIAGNOSTIC MAPS FIRST, PER-QUERY WALLS + TOTALS + FLAGS LAST:
    # the driver's capture keeps the LAST 2000 chars of the line
    # ("tail") and parses the full line when it can.  r8's
    # totals-first layout guaranteed the headline was truncated away
    # (BENCH_r09 `parsed: null`), and the r13 record lost the whole
    # per-query table the same way (PERF_r14 `n_common: 0`).
    # json.dumps preserves insertion order — end the object with the
    # `queries`/`extra` walls and every verdict field so a truncated
    # tail still carries the per-query record, printed compact
    # (3-decimal walls: the ~0.07 s per-job floor makes sub-ms digits
    # pure noise) so that section fits the 2000-char window.  The
    # FULL record additionally lands in .bench_out/BENCH_local.json
    # next to this file (gitignored, so a run leaves the tree clean) —
    # the on-disk belt to the stdout suspenders.
    record = {
        "duckdb": duck,
        "ratio": ratios,
        "net_ratio": net_ratios,
        "extra_duckdb": extra_duck,
        "extra_net_ratio": extra_net,
        "jobs": job_counts,  # Spark jobs per query (best run's group)
        # plan-BUILD seconds inside each best wall (py4j assembly +
        # gated plan-build collects); wall - build_s = execution.
        # Fixed per QUERY, not per data: a real pipeline builds the
        # plan once and amortizes this term, the per-run bench cannot
        "build_s": build_s,
        # second execution of an already-built plan (fixed-cost watch
        # list only): the amortized per-batch wall; see the reuse
        # probe above
        "reuse_s": reuse_s,
        # rows whose DuckDB oracle is an INVARIANT recompute (cheap
        # violation counters over raw text), NOT an equivalent query:
        # the Spark side runs the FULL operator (xxhash banding /
        # packing) plus the audit, so the flag lists' wall-vs-oracle
        # ratio is structurally incomparable for them — same class as
        # pack_sequences, whose oracle just happens to sit under the
        # 0.2 s denominator floor
        "invariant_audit_rows": ["minhash_pairs_xx", "simhash_xx",
                                 "ann_topk_768", "lsh_sig_768",
                                 "pack_sequences"],
        "extras_sf1": extras_sf1,
        # flag only where the DuckDB denominator is itself substantial
        # (>= 0.2s): a 6ms DuckDB query vs any Spark query measures
        # nothing but the fixed overhead already reported above
        "flagged_net_over_2x": sorted(
            n for n, r in net_ratios.items() if r > 2 and duck.get(n, 0) >= 0.2
        ),
        "extra_flagged_net_over_2x": sorted(
            n for n, r in extra_net.items()
            if r > 2 and extra_duck.get(n, 0) >= 0.2
        ),
        # floor-honest twins of the two lists above: fixed cost
        # modeled as njobs x per-job floor instead of one flat floor,
        # so a uniformly slow box (r10: 0.64s floor, 3x quiet) stops
        # manufacturing flags for structurally floor-bound queries.
        # Adjudication aid only — the raw lists remain the gate.
        "floor_per_job_est": round(floor_per_job, 4),
        "flagged_net_of_floor_over_2x": sorted(
            n for n, r in nof.items()
            if r > 2 and duck.get(n, 0) >= 0.2 and n in net_ratios
        ),
        "extra_flagged_net_of_floor_over_2x": sorted(
            n for n, r in extra_nof.items()
            if r > 2 and extra_duck.get(n, 0) >= 0.2
        ),
        # absolute wall budget: net-over-2x can NEVER flag a query
        # whose DuckDB denominator is slow or missing (profile /
        # quantile_sort style), so any query over this wall is flagged
        # regardless of ratio.  Read together with `calibration`: a
        # contended capture inflates walls without any code change.
        "wall_budget_sec": WALL_BUDGET,
        "flagged_wall_over_budget": sorted(
            n
            for n, t in {**times, **extra_times}.items()
            if t > WALL_BUDGET
        ),
        # ---- tail (everything below must survive truncation) -------
        # the headline per-query walls (same best-of-N protocol as
        # every prior round; `extra` is the round-5/6 wave kept
        # separate so the r2-r5 baseline series stays comparable) and
        # the verdict totals — measured 1944 chars on the r15 baseline
        # capture, inside the 2000-char window; the flag lists above
        # are the first to truncate and recompute from these walls
        "queries": {n: round(t, 3) for n, t in times.items()},
        "extra": {n: round(t, 3) for n, t in extra_times.items()},
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "duckdb_total": duck_total,
        "ratio_total": round(total / duck_total, 2) if duck_total > 0 else None,
        "spark_fixed_overhead_est": floor,
        "calibration": {
            "floor_start": floor_start,
            "floor_end": floor_end,
            # >3x drift = ambient contention during the sweep; treat
            # per-query walls in this record as upper bounds only
            "contended": floor_end > 3 * max(floor_start, 0.05),
        },
    }
    # full-precision walls stay available even when stdout is
    # tail-truncated: the same record (4-decimal walls) as a readable
    # file.  A RECORD of this run only — nothing reads it back; every
    # bench invocation recomputes from the parquet inputs.
    full = dict(record)
    full["queries"] = times
    full["extra"] = extra_times
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_out")
    try:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "BENCH_local.json"), "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError as e:  # read-only checkout: the stdout line stands
        print(f"BENCH_local.json not written: {e}", file=sys.stderr)
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    main()
