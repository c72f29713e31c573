"""Mini-driver: run every ``queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at a given sf dir, compare row count,
schema arity, and order-insensitive values (columns sorted by name,
rows sorted by all columns) — a local stand-in for CORRECTNESS_r{N}.json.

Usage: python tools/check_correctness.py [--json OUT.json] [sf_dir] [query ...]

Naming queries runs only those, and the summary counts only them; an
unknown name exits with status 2 before Spark starts.

``--json`` additionally writes a per-query artifact in the driver's
CORRECTNESS shape (rows_match/schema_match/hash_match/spark_rows/
oracle_rows/err) so the full-registry local sweep is committable and
diffable round-over-round (the driver file caps at 50 entries).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything so timestamp/date/decimal representations unify
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            # full precision: the engine's numeric discipline targets
            # bit-identical floats, so compare at 17 significant digits
            out[c] = col.map(lambda v: "null" if pd.isna(v) else f"{v:.17g}")
        elif pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.astype("datetime64[us]").astype(str).replace("NaT", "null")
        else:
            out[c] = col.map(lambda v: "null" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as E
    from smartdatapipeline_spark.session import get_spark

    qs, oracles = E.queries(), E.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}", file=sys.stderr)
        return 2
    selected = [name for name in qs if not only or name in only]

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    # Disk guard (round 10): an oracle whose intermediate explodes at
    # the 10x sweep volume (a pair-space join) must ERROR, recorded
    # per-query, instead of spilling the root volume full — one such
    # oracle spilled 50 GB before being killed this round.
    con.execute("SET max_temp_directory_size='20GB'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table (e.g. the tools/make_scale_dir.py
            # salted replicas): a DIRECTORY of part files — glob it
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    records: dict[str, dict] = {}

    props = getattr(E, "property_checks", dict)()

    def record(name, *, rows_match=None, schema_match=None, hash_match=None,
               spark_rows=None, oracle_rows=None, err=None, oracle=True,
               property_match=None, property_detail=None):
        records[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
            "oracle": oracle,
        }
        if property_match is not None:
            records[name]["property_match"] = property_match
            records[name]["property_detail"] = property_detail

    for name in selected:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            record(name, err=f"spark: {exc}")
            continue
        t_spark = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            # round-7: randomized/trained queries carry a property-bound
            # oracle (recall floor / precision-vs-exact-Jaccard /
            # decision consistency / separation margin) — strictly
            # stronger than the old rows-only check
            pfn = props.get(name)
            if pfn is not None:
                try:
                    pres = pfn(spark, sf_dir)
                except Exception as exc:  # noqa: BLE001
                    print(f"FAIL {name}: property check error: {exc}")
                    failures.append(name)
                    record(name, spark_rows=len(sdf), oracle=False,
                           err=f"property: {exc}")
                    continue
                ok = bool(pres.get("ok")) and len(sdf) > 0
                tag = "PROP" if ok else "FAIL"
                print(
                    f"{tag} {name}: rows={len(sdf)} "
                    f"{pres.get('property')}: {pres.get('metric')} "
                    f"(floor {pres.get('floor')}) [{t_spark:.1f}s]"
                )
                if not ok:
                    failures.append(name)
                record(name, rows_match=len(sdf) > 0, spark_rows=len(sdf),
                       oracle=False, property_match=ok, property_detail=pres)
                continue
            print(f"ok?  {name}: rows={len(sdf)} (no oracle — rows-only check) [{t_spark:.1f}s]")
            if len(sdf) == 0:
                failures.append(name)
            record(name, rows_match=len(sdf) > 0, spark_rows=len(sdf), oracle=False)
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures.append(name)
            record(name, spark_rows=len(sdf), err=f"duckdb: {exc}")
            continue
        # driver-strictness probe: the driver hashes with dtype awareness
        # (round 1: DuckDB HUGEINT vs Spark BIGINT hashed differently with
        # equal values), so surface any dtype divergence loudly.
        s_dt = {c: str(sdf[c].dtype) for c in sorted(sdf.columns)}
        o_dt = {c: str(odf[c].dtype) for c in sorted(odf.columns)}
        for c in s_dt:
            if c in o_dt and s_dt[c] != o_dt[c]:
                print(f"TYPEWARN {name}.{c}: spark={s_dt[c]} duckdb={o_dt[c]}")
        ns, no = normalize(sdf), normalize(odf)
        rows_ok = len(ns) == len(no)
        cols_ok = list(ns.columns) == list(no.columns)
        vals_ok = rows_ok and cols_ok and ns.equals(no)
        record(name, rows_match=rows_ok, schema_match=cols_ok, hash_match=vals_ok,
               spark_rows=len(ns), oracle_rows=len(no))
        if not rows_ok:
            print(f"FAIL {name}: rowcount spark={len(ns)} duckdb={len(no)}")
            failures.append(name)
            continue
        if not cols_ok:
            print(f"FAIL {name}: columns spark={list(ns.columns)} duckdb={list(no.columns)}")
            failures.append(name)
            continue
        if not vals_ok:
            neq = (ns != no).any(axis=1)
            print(f"FAIL {name}: {int(neq.sum())}/{len(ns)} rows differ; first:")
            idx = neq[neq].index[0]
            print("  spark :", ns.loc[idx].to_dict())
            print("  duckdb:", no.loc[idx].to_dict())
            failures.append(name)
            continue
        print(f"PASS {name}: rows={len(ns)} [{t_spark:.1f}s]")

    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump({"sf_dir": sf_dir, "queries": records}, fh, indent=1)
        print(f"wrote {json_out} ({len(records)} queries)")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
