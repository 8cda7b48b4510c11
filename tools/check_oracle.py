"""Local replay of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at sf0.01, compares row count, column names, and an order-insensitive
value representation (rows sorted, floats canonicalized). Usage:

    python tools/check_oracle.py [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb


def canon(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row))
        vals = []
        for c in sorted(cols):
            v = d[c]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    # driver-style canonicalization: fixed decimal repr
                    vals.append(f"{v:.6f}".rstrip("0").rstrip("."))
            elif v is None:
                vals.append("∅")
            elif isinstance(v, bool):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def replay(
    names: list[str] | None = None,
    sf_dir: str | None = None,
    spark=None,
    tz: str | None = None,
) -> list[str]:
    """Run the driver-equivalent gate; returns the failing query names.

    Importable so CI can run it as a pytest (``-m oracle_replay``) and
    catch oracle drift before the driver does; the CLI below is a thin
    wrapper.

    ``tz`` sets a NON-default session timezone on BOTH engines
    (``spark.sql.session.timeZone`` + DuckDB ``TimeZone``) for the run —
    the timezone-independence gate: the driver supplies its own Spark
    session whose tz this repo does not control, so every registered
    query must produce identical results under any session tz (round-3
    post-mortem: naive-datetime literals in ``pruned_scan`` shifted with
    session tz and broke only on the driver's box).
    """
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod

    if spark is None:
        from acoustic_feature_extractor_spark.session import get_spark

        spark = get_spark(cores=16)
    if sf_dir is None:
        sf_dir = os.environ.get("AFE_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    if tz is not None:
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duckdb.connect()
    if tz is not None:
        con.sql(f"SET TimeZone = '{tz}'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = names or list(qs)
    failures = []
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        try:
            dres = con.sql(oracles[name])
            dcols = [c.lower() for c in dres.columns]
            drows = dres.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(dcols):
            print(f"FAIL  {name}: columns spark={sorted(scols)} duckdb={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
            ok = False
        else:
            cs = canon(srows, [c.lower() for c in scols])
            cd = canon(drows, dcols)
            if cs != cd:
                ndiff = sum(1 for a, b in zip(cs, cd) if a != b)
                print(f"FAIL  {name}: value mismatch ({ndiff}/{len(cs)} rows differ)")
                for a, b in list(zip(cs, cd))[:2000]:
                    if a != b:
                        print(f"   spark : {a}\n   duckdb: {b}")
                        break
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows")
        else:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    if tz is not None:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return failures


def main() -> int:
    args = sys.argv[1:]
    tz = None
    if "--tz" in args:
        i = args.index("--tz")
        tz = args[i + 1]
        del args[i : i + 2]
    return 1 if replay(args or None, tz=tz) else 0


if __name__ == "__main__":
    raise SystemExit(main())
