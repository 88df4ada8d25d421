"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given SF dir, runs its ``oracle_sql()``
twin under DuckDB over the same parquet tables, and compares
rows / schema / values with a dtype-sensitive canonical stringification
(mirroring the driver: columns sorted by name, rows sorted, values hashed).
Also prints per-entry wall time — the driver runs entries in registration
order under a shared session with a global time budget, so total runtime
here bounds how much of the board the driver can cover.

Usage: python tools/check_all.py [sf_dir[,sf_dir2,...]] [name_filter ...]

``--window`` (a flag, combinable with an sf_dir and name filters)
restricts the sweep to the first 50 registered entries — the driver's
checked window — so the per-entry times bound the driver's budget for
THIS round's window; the JSON
written to /tmp/check_all.json (override via CHECK_ALL_OUT, so two
concurrent sweeps don't clobber each other) then doubles as the committed window
telemetry (WINDOW_REPLICA_r{N}.json) future window rebuilds pack
against.

With multiple comma-separated SF dirs, the sweep runs once per dir under
the SAME Spark session, calling ``api.reset_session_caches()`` between
dirs — this doubles as the regression gate for unbounded memo growth.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from flink_realtime_datawarehouse_v3_spark import api  # noqa: E402
from flink_realtime_datawarehouse_v3_spark.session import get_spark  # noqa: E402
from flink_realtime_datawarehouse_v3_spark.sources.tables import TABLE_NAMES  # noqa: E402


def _col_strs(series) -> list[str]:
    """Per-column canonical strings. Column-wise (NOT ``iterrows``, which
    upcasts whole rows to a common dtype and fakes int->float mismatches)."""
    import decimal
    import math

    import numpy as np

    out = []
    for v in series.tolist():
        if v is None or (isinstance(v, float) and math.isnan(v)):
            out.append("NULL")
        elif isinstance(v, (bool, np.bool_)):
            out.append(str(bool(v)))
        elif isinstance(v, (int, np.integer)):
            out.append(str(int(v)))
        elif isinstance(v, (float, np.floating)):
            out.append(repr(float(v)))
        elif isinstance(v, decimal.Decimal):
            out.append(str(v))
        else:
            out.append(str(v))
    return out


def _canon(df_pandas) -> list[str]:
    cols = sorted(df_pandas.columns)
    mat = [_col_strs(df_pandas[c]) for c in cols]
    return sorted("|".join(vals) for vals in zip(*mat))


def _dtype_class(series) -> str:
    """Driver-sensitivity dtype class: int64 vs float64 vs Decimal-object
    columns hash differently at the pandas level."""
    import decimal

    import numpy as np
    import pandas as pd

    if pd.api.types.is_integer_dtype(series):
        return "int"
    if pd.api.types.is_float_dtype(series):
        return "float"
    if pd.api.types.is_bool_dtype(series):
        return "bool"
    for v in series:
        if v is None:
            continue
        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, (list, np.ndarray)):
            return "array"
        return type(v).__name__
    return "empty"


def _dtype_mismatches(spdf, odf) -> list[str]:
    out = []
    for c in sorted(set(spdf.columns) & set(odf.columns)):
        a, b = _dtype_class(spdf[c]), _dtype_class(odf[c])
        if a != b:
            out.append(f"{c}: spark={a} oracle={b}")
    return out


def plan_fingerprint(sdf) -> str:
    """Stable hash of an entry's PHYSICAL plan shape (see
    flink_realtime_datawarehouse_v3_spark/planfp.py — shared with the
    in-suite regression gate so the committed telemetry and pytest agree
    byte-for-byte)."""
    from flink_realtime_datawarehouse_v3_spark import planfp

    return planfp.fingerprint(sdf)


def run_sweep(
    spark, sf_dir: str, name_filter: list[str], window_only: bool = False
) -> tuple[dict, int]:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    results: dict[str, dict] = {}
    t_all = time.time()
    names = list(api.QUERIES)[:50] if window_only else list(api.QUERIES)
    for name in names:
        fn = api.QUERIES[name]
        if name_filter and not any(f in name for f in name_filter):
            continue
        t0 = time.time()
        rec: dict = {}
        try:
            sdf = fn(spark, sf_dir)
            # streaming_* entries return a read of an already-executed
            # query's sink — no meaningful batch plan to fingerprint.
            if not name.startswith("streaming_"):
                rec["plan_fp"] = plan_fingerprint(sdf)
            spdf = sdf.toPandas()
            rec["spark_rows"] = len(spdf)
            osql = api.ORACLES.get(name)
            if osql is None:
                rec["err"] = "no_oracle"
            else:
                odf = con.sql(osql).df()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(spdf) == len(odf)
                rec["schema_match"] = sorted(spdf.columns) == sorted(odf.columns)
                sc, oc = _canon(spdf), _canon(odf)
                dt = _dtype_mismatches(spdf, odf)
                rec["hash_match"] = sc == oc and not dt
                if dt:
                    rec["dtype_mismatch"] = dt
                if sc != oc and rec["rows_match"]:
                    diff = [
                        (a, b) for a, b in zip(sc, oc) if a != b
                    ][:3]
                    rec["first_diffs"] = diff
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:400]
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        ok = (
            "OK"
            if rec.get("hash_match")
            else ("rows-only" if rec.get("err") == "no_oracle" else "FAIL")
        )
        print(f"{ok:9s} {rec['sec']:7.2f}s {name}", flush=True)

    total = round(time.time() - t_all, 1)
    n_ok = sum(1 for r in results.values() if r.get("hash_match"))
    n_ro = sum(1 for r in results.values() if r.get("err") == "no_oracle")
    n_bad = len(results) - n_ok - n_ro
    print(f"\ntotal {total}s — {n_ok} green / {n_ro} rows-only / {n_bad} FAIL of {len(results)}")
    return results, n_bad


def main() -> int:
    # Flags may appear anywhere; positionals are [sf_dir[,sf_dir2,...]]
    # then name filters. A flag never silently becomes an sf_dir or a
    # name filter (a `--window <sf_dir>` invocation used to sweep the
    # DEFAULT dir with a never-matching filter and exit 0).
    args = sys.argv[1:]
    flags = [a for a in args if a.startswith("--")]
    unknown = [f for f in flags if f != "--window"]
    if unknown:
        raise SystemExit(f"unknown flag(s): {unknown}")
    pos = [a for a in args if not a.startswith("--")]
    window_only = "--window" in flags
    sf_dirs = (pos[0] if pos else "/root/testdata/sf0.01").split(",")
    name_filter = pos[1:]
    spark = get_spark()
    all_results: dict[str, dict] = {}
    bad = 0
    for i, sf_dir in enumerate(sf_dirs):
        if i:
            api.reset_session_caches()
            api.unpersist_orphans()  # sweep boundary: no live refs held
            n_persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
            print(f"\n-- reset_session_caches(): {n_persisted} RDDs still persisted --")
            print(f"-- sweep {sf_dir} --")
        results, n_bad = run_sweep(spark, sf_dir, name_filter, window_only)
        bad += n_bad
        all_results[sf_dir] = results
    out_path = os.environ.get("CHECK_ALL_OUT", "/tmp/check_all.json")
    with open(out_path, "w") as f:
        json.dump(
            all_results[sf_dirs[0]] if len(sf_dirs) == 1 else all_results,
            f,
            indent=1,
            default=str,
        )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
