"""Local differential checker — mimics the driver's DuckDB-oracle compare.

For every query in the registry: run the Spark version and the DuckDB oracle
on the same sf dir; compare row count, column names, and an order-insensitive
value hash (rows sorted, columns sorted by name, values stringified with
float rounding). Run:

    python tools/check_oracle.py [--vanilla] [sf_dir] [query ...]
    python tools/check_oracle.py --window    # the driver's pinned 50 head
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from multiagent_document_etl_system_spark import get_spark  # noqa: E402
from multiagent_document_etl_system_spark.io import TABLES  # noqa: E402

# NOTE: the registry import happens inside main() — AFTER optional
# --shim activation — because env-gated queries (st_user_profile_tws)
# decide their registration at registry import time.


def _activate_proto_shim() -> bool:
    """--shim: activate the shared protobuf shim (see
    multiagent_document_etl_system_spark/protoshim.py — ONE
    implementation, also used by tests/conftest.py) BEFORE the registry
    import and the first SparkSession, so the env-gated
    transformWithStateInPandas query registers and can be checked here."""
    from multiagent_document_etl_system_spark.protoshim import (
        activate_proto_shim,
    )
    return activate_proto_shim()


def norm_value(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # full shortest-round-trip precision: the driver compares floats at
        # higher precision than 6 sig figs, so a lenient local format would
        # mask 1-ulp cross-engine drift (exactly how td_prepare_corpus
        # stayed locally green while driver-red in r2+r3)
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def table_repr(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted(",".join(norm_value(r[i]) for i in order) for r in rows)
    return len(rows), sorted_cols, out


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    window = "--window" in args
    if window:
        args.remove("--window")
    shim = "--shim" in args
    if shim:
        args.remove("--shim")
        if not _activate_proto_shim():
            print("--shim: no protobuf and no shimmable SDK copy — "
                  "env-gated queries stay unregistered", file=sys.stderr)
    from multiagent_document_etl_system_spark.plans.registry import QUERIES
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    names = list(args)
    if window:
        # exactly what the external driver checks: the pinned head
        names += list(QUERIES)[:50]
    names = names or list(QUERIES)

    if vanilla:
        # simulate an EXTERNAL driver's session: none of the engine's
        # session confs (shuffle partitions, Arrow, nanosAsLong, UTC TZ
        # setting) — queries must be robust to whatever session they get
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[16]")
                 .appName("check-oracle-vanilla").getOrCreate())
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark(cpus=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        fn, oracle = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if oracle is None:
            print(f"rows  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            res = con.sql(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        sn, sc, sv = table_repr(scols, srows)
        on, oc, ov = table_repr(ocols, orows)
        if sn != on:
            print(f"FAIL  {name}: rowcount spark={sn} oracle={on}")
            n_fail += 1
        elif sc != oc:
            print(f"FAIL  {name}: columns spark={sc} oracle={oc}")
            n_fail += 1
        elif sv != ov:
            bad = next(
                (i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if a != b
            )
            print(f"FAIL  {name}: values differ at sorted row {bad[0]}:")
            print(f"      spark : {bad[1][:300]}")
            print(f"      oracle: {bad[2][:300]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {sn} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
