"""Local stand-in for the driver's t2 correctness gate + timing regression gate.

Runs every queries() entry at sf0.01 on Spark AND its oracle_sql() on DuckDB,
then compares: row count, sorted column names, and order-insensitive values
(rows sorted by all columns, exact equality after the query's own rounding).

Timing gate (VERDICT r6 ask #6): per-query wall is recorded (median of
$SPTAG_SELFCHECK_TIMING_RUNS executions, default 1) together with the GEMM
calibration kernel (sptag_spark/calibration.py). When a committed baseline
(SELFCHECK_TIMINGS.json, or $SPTAG_SELFCHECK_BASELINE) exists for the same
sf_dir, a query is flagged when its wall exceeds 2× the baseline median
normalized by the calibration ratio (+0.5 s absolute floor for sub-second
noise). The gate verdict rides in the --json artifact; the exit code stays
correctness-only (a busy shared VM must not fail the oracle gate).

Baselines are scoped (VERDICT r8 #3): a baseline written by a full-registry
run is stamped scope="full", and the gate SKIPS (with a printed reason)
when applied to a subset run — full-run medians amortize session-memoized
builds (OPQ train, graph build, BM25 index) in registry order, so a subset
run legitimately pays them cold and must not be graded against them.

Usage: python tools/selfcheck.py [--json PATH] [name ...]   (no args = all)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPTAG_SELFCHECK_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if a[c].dtype.kind == "f":
            import numpy as np

            afv, bfv = av.astype(float), bv.astype(float)
            # the driver hashes BYTES, so -0.0 vs +0.0 is a mismatch even
            # though they compare == ; check the sign bit too
            same = (afv == bfv) & (np.signbit(afv) == np.signbit(bfv))
            bad = ~(same | (pd.isna(av) & pd.isna(bv)))
        else:
            bad = av != bv
        n_bad = int(bad.sum())
        if n_bad:
            i = int(bad.argmax())
            problems.append(
                f"col {c}: {n_bad} mismatches, first at row {i}: "
                f"spark={av[i]!r} duck={bv[i]!r}"
            )
    return problems


def main() -> int:
    import __spark_entry__ as e
    from sptag_spark.session import get_spark

    # --json PATH: write a per-query result artifact (the committed
    # SELFCHECK_r*.json record — makes full-registry coverage claims
    # self-contained instead of requiring a judge re-run)
    argv = sys.argv[1:]
    json_path = None
    baseline_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: selfcheck.py [--json PATH] [--write-baseline PATH] [name ...]")
            return 2
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--write-baseline" in argv:
        i = argv.index("--write-baseline")
        if i + 1 >= len(argv):
            print("usage: selfcheck.py [--json PATH] [--write-baseline PATH] [name ...]")
            return 2
        baseline_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv
    qs, oracles = e.queries(), e.oracle_sql()
    if names:
        qs = {n: qs[n] for n in names}

    from sptag_spark.calibration import gemm_calibration

    calibration = gemm_calibration()
    n_timing = max(1, int(os.environ.get("SPTAG_SELFCHECK_TIMING_RUNS", "1")))

    spark = get_spark("selfcheck")
    con = duck_con()
    failed = []
    record: dict[str, dict] = {}
    from sptag_spark.resources import release

    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            spdf = df.toPandas()
            # drop per-query pinned intermediates (token/span stream
            # persists) so an 81-query session doesn't accumulate them;
            # memoized index artifacts aren't attached and stay cached
            release(df, include_self=False)
            secs = [time.time() - t0]
            for _ in range(n_timing - 1):
                t1 = time.time()
                df_t = fn(spark, SF_DIR)
                df_t.toPandas()
                release(df_t, include_self=False)
                secs.append(time.time() - t1)
            secs.sort()
            t_med = secs[len(secs) // 2]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            record[name] = {"status": "FAIL", "error": f"spark: {ex}"[:300]}
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spdf)} rows ({t_med:.1f}s)")
            if len(spdf) == 0:
                failed.append(name)
            record[name] = {
                "status": "ROWS-ONLY" if len(spdf) else "FAIL",
                "rows": len(spdf),
                "sec": round(t_med, 2),
            }
            continue
        try:
            dpdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            record[name] = {"status": "FAIL", "error": f"duckdb: {ex}"[:300]}
            continue
        problems = compare(spdf, dpdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"   {p}")
            failed.append(name)
            record[name] = {"status": "FAIL", "problems": problems[:5]}
        else:
            print(f"PASS {name}: {len(spdf)} rows ({t_med:.1f}s)")
            record[name] = {
                "status": "PASS",
                "rows": len(spdf),
                "sec": round(t_med, 2),
            }
    print(f"\n{len(qs)-len(failed)}/{len(qs)} passed")

    # ---- timing regression gate (calibration-normalized, 2× + 0.5 s) ----
    import json

    gate: dict = {"verdict": "SKIPPED", "baseline": None, "violations": []}
    baseline_path = os.environ.get(
        "SPTAG_SELFCHECK_BASELINE", os.path.join(ROOT, "SELFCHECK_TIMINGS.json")
    )
    if os.path.exists(baseline_path):
        with open(baseline_path) as f:
            base = json.load(f)
        if base.get("sf_dir") == SF_DIR and names and base.get(
            "scope", "full"
        ) == "full":
            # VERDICT r8 #3: a full-run baseline's per-query medians encode
            # warm-state ordering — session-memoized builds (OPQ train,
            # graph build, BM25 index) are amortized across the registry,
            # so a legitimate subset run pays them cold and false-flags.
            # Skip the gate EXPLICITLY rather than fail it.
            gate["verdict"] = "SKIPPED"
            gate["reason"] = (
                "baseline is full-run-only: its medians amortize session-"
                "memoized builds across the whole registry; a subset run "
                "pays those builds cold. Run without name filters to "
                "apply the gate."
            )
            print(
                "timing gate SKIPPED: full-run-only baseline vs subset run "
                "(memoized builds not amortized) — run all queries to gate"
            )
        elif base.get("sf_dir") == SF_DIR and base.get(
            "timing_runs", 1
        ) != n_timing:
            # protocol mismatch (found the hard way in r10): a baseline of
            # MEDIANS over k runs is warm — comparing a single-run (cold
            # first-execution) wall against it false-flags every query
            # whose first run pays builds/JIT/worker spin-up (measured
            # 9-24× on exactly those, median 1.29× elsewhere). Gate only
            # at the baseline's own timing_runs.
            gate["verdict"] = "SKIPPED"
            gate["reason"] = (
                f"baseline recorded medians over timing_runs="
                f"{base.get('timing_runs', 1)}, this run used {n_timing}; "
                f"set SPTAG_SELFCHECK_TIMING_RUNS={base.get('timing_runs', 1)}"
                " to apply the gate"
            )
            print(f"timing gate SKIPPED: {gate['reason']}")
        elif base.get("sf_dir") == SF_DIR:
            # the machine swings ~2.7× between sittings for identical code
            # (AB_R5R6.md); normalize the budget by the calibration ratio
            scale = base["calibration"]["gemm_gflops"] / max(
                calibration["gemm_gflops"], 1e-9
            )
            gate["baseline"] = baseline_path
            gate["calibration_scale"] = round(scale, 3)
            for name, rec in record.items():
                b = base["sec"].get(name)
                cur = rec.get("sec")
                if b is None or cur is None:
                    continue
                budget = 2.0 * b * scale + 0.5
                if cur > budget:
                    gate["violations"].append(
                        {
                            "query": name,
                            "sec": cur,
                            "baseline_sec": b,
                            "budget_sec": round(budget, 2),
                        }
                    )
            gate["verdict"] = "FAIL" if gate["violations"] else "PASS"
            if gate["violations"]:
                print(f"TIMING GATE FAIL: {gate['violations']}")
            else:
                print(
                    f"timing gate PASS ({len(base['sec'])} baselines, "
                    f"scale {gate['calibration_scale']})"
                )
    if baseline_out:
        # commit this as SELFCHECK_TIMINGS.json: the per-query medians +
        # the calibration they were recorded under — what the gate above
        # normalizes future runs against
        with open(baseline_out, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    # full-run medians amortize memoized builds in registry
                    # order — the gate refuses to apply them to subset runs
                    "scope": "full" if not names else "subset",
                    "calibration": calibration,
                    "timing_runs": n_timing,
                    "sec": {
                        n: r["sec"] for n, r in record.items() if "sec" in r
                    },
                },
                f,
                indent=1,
            )
            f.write("\n")
    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "calibration": calibration,
                    "timing_runs": n_timing,
                    "n_queries": len(qs),
                    "n_failed": len(failed),
                    "failed": failed,
                    "timing_gate": gate,
                    "results": record,
                },
                f,
                indent=1,
            )
            f.write("\n")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
