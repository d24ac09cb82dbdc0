"""Console entry point (``pyproject.toml [project.scripts]``).

``sensor-ts-gate`` — local mirror of the driver's correctness gate:
run every registered query in Spark and its oracle twin in DuckDB,
compare row count + schema width + order-insensitive values.
``scripts/check_oracle.py`` is a thin shim over ``gate_main``.

``duck_con`` and ``compare`` are shared with ``perfbench/``, which is
the repo's benchmark (see ``perfbench/README.md``).
"""

from __future__ import annotations

import os
import sys

from .queries import ORACLE_SQL, QUERIES
from .session import get_spark
from .sources.readers import TABLES


def duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        # normalize integer dtypes (int32 vs int64 diffs are reported
        # separately as a schema note, not a value mismatch)
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_df, duck_df) -> list[str]:
    import pandas as pd

    issues: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        issues.append(
            f"columns differ: spark={sorted(spark_df.columns)} "
            f"duck={sorted(duck_df.columns)}"
        )
        return issues
    s, d = _canon(spark_df), _canon(duck_df)
    if len(s) != len(d):
        issues.append(f"row count: spark={len(s)} duck={len(d)}")
        return issues
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f":
            import numpy as np

            bad = pd.Series(
                ~(np.isclose(sv, dv, rtol=0, atol=0, equal_nan=True)),
                index=sv.index,
            )
        else:
            bad = ~((sv == dv) | (sv.isna() & dv.isna()))
        if bad.any():
            i = bad.idxmax()
            issues.append(
                f"col {c}: {int(bad.sum())} mismatches, "
                f"e.g. row {i}: {sv[i]!r} vs {dv[i]!r}"
            )
    return issues


def gate_main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    # Codegen guard: capture the JVM's stderr (inherited fd 2 at JVM
    # launch, so this must happen BEFORE get_spark) and fail the gate
    # if any query tripped a whole-stage-codegen compile failure
    # ("ERROR CodeGenerator": the query still returns rows through the
    # interpreted fallback, so a hash gate alone can't see the 10-100x
    # perf cliff). Disable with SPARK_GRAFT_CODEGEN_GUARD=0.
    guard = os.environ.get("SPARK_GRAFT_CODEGEN_GUARD", "1") != "0"
    stderr_log = None
    saved_fd = None
    if guard:
        import tempfile

        stderr_log = tempfile.NamedTemporaryFile(
            mode="w+", prefix="gate_stderr_", suffix=".log", delete=False
        )
        saved_fd = os.dup(2)
        os.dup2(stderr_log.fileno(), 2)
    failed = []
    n_run = 0
    codegen_ok = True
    try:
        spark = get_spark("check_oracle")
        con = duck_con(sf_dir)
        qs, oracles = dict(QUERIES), dict(ORACLE_SQL)
        for name, fn in qs.items():
            if only and name not in only:
                continue
            n_run += 1
            try:
                sdf = fn(spark, sf_dir).toPandas()
            except Exception as exc:
                print(f"FAIL {name}: spark error: {exc}")
                failed.append(name)
                continue
            sql = oracles.get(name)
            if sql is None:
                print(f"ok   {name}: rows-only ({len(sdf)} rows)")
                if len(sdf) == 0:
                    failed.append(name)
                continue
            try:
                ddf = con.execute(sql).fetchdf()
            except Exception as exc:
                print(f"FAIL {name}: duckdb error: {exc}")
                failed.append(name)
                continue
            issues = compare(name, sdf, ddf)
            if issues:
                print(f"FAIL {name}: " + "; ".join(issues))
                failed.append(name)
            else:
                print(f"ok   {name}: {len(sdf)} rows match")
    finally:
        # Restore stderr even if setup (get_spark/duck_con) raised or the
        # run was interrupted, so the traceback is visible, not swallowed
        # into the hidden temp log.
        if guard and saved_fd is not None:
            os.dup2(saved_fd, 2)
            os.close(saved_fd)
    if guard:
        with open(stderr_log.name, errors="replace") as fh:
            err_text = fh.read()
        n_codegen = err_text.count("ERROR CodeGenerator")
        if n_codegen:
            print(
                f"FAIL codegen: {n_codegen} 'ERROR CodeGenerator' lines "
                f"(compile fallback to interpreted mode) — {stderr_log.name}"
            )
            codegen_ok = False
        else:
            print("codegen: 0 'ERROR CodeGenerator' lines")
    print(
        f"\n{n_run - len(failed)}/{n_run} pass"
        + (f" (selected of {len(qs)} registered)" if only else "")
        + ("" if codegen_ok else "; codegen guard FAILED")
    )
    return 1 if (failed or not codegen_ok) else 0
