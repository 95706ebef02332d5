#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the expected output digest of every
workload face, cross-checked against DuckDB.

Run from the repository root (takes several minutes):

    python3 perfbench/digests.py [workload ...]

For each scale the workloads use, the harness runs every face once in two
fresh JVMs, records each face's digest (row count, typed schema, order-
insensitive row hash) and dumps the first JVM's outputs as parquet. A face
whose digest differs between the two JVMs is an error. Each dumped output
is then compared with the face's oracle SQL run by DuckDB over the same
fixture, with the type normalisation and row comparison of
`tools/check_oracle.py`; the result is recorded as `oracle`. A face without
oracle SQL would get `check: rows_schema` (row count and schema only);
every current face has one, so every face gets `check: digest`.
"""
import json
import shutil
import sys

import duckdb
import pyarrow.dataset as ds

import run

sys.path.insert(0, str(run.ROOT / "tools"))
import check_oracle  # noqa: E402


def oracle_compare(con, sql, out_dir):
    """None when DuckDB's result equals the dumped Spark output, else why."""
    try:
        dtbl = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001 - reported, not raised
        return f"duckdb error: {e}"
    stbl = ds.dataset(str(out_dir)).to_table()
    dn, sn = sorted(dtbl.column_names), sorted(stbl.column_names)
    if dn != sn:
        return f"columns differ: duckdb={dn} spark={sn}"
    for c in dn:
        dt = check_oracle.norm_type(dtbl.schema.field(c).type)
        st = check_oracle.norm_type(stbl.schema.field(c).type)
        if dt != st:
            return f"type of {c}: duckdb={dt} spark={st}"
    if dtbl.num_rows != stbl.num_rows:
        return f"rows: duckdb={dtbl.num_rows} spark={stbl.num_rows}"
    if check_oracle.norm_rows(dn, check_oracle.arrow_rows(dtbl, dn)) != \
            check_oracle.norm_rows(sn, check_oracle.arrow_rows(stbl, sn)):
        return "values differ"
    return None


def main():
    workloads = run.load_json(run.BENCH / "workloads.json")
    chosen = sys.argv[1:] or sorted(workloads)
    path = run.BENCH / "expected.json"
    expected = json.loads(path.read_text())
    run.BUILD.mkdir(exist_ok=True)
    log = open(run.BUILD / "digests.log", "w")
    cp = run.build(log)
    for scale in sorted({workloads[w]["scale"] for w in chosen}):
        faces = sorted({f for w in chosen if workloads[w]["scale"] == scale
                        for f in workloads[w]["faces"]})
        data, _ = run.fixture(scale)
        dump = run.BUILD / "dump" / scale
        shutil.rmtree(dump, ignore_errors=True)
        results = []
        for i in range(2):
            work = run.BUILD / f"digest{i}"
            shutil.rmtree(work, ignore_errors=True)
            work.mkdir(parents=True)
            extra = {"dump": dump} if i == 0 else {}
            results.append(run.jvm(cp, work, data, "digest", work / "out.json", log, 3000,
                                   faces=",".join(faces), **extra))
        con = duckdb.connect()
        for t in check_oracle.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        table = expected.setdefault(scale, {})
        for f in faces:
            a, b = results[0][f], results[1][f]
            if "error" in a or a != b:
                table[f] = {"error": a.get("error") or f"digest differs between JVMs: {a} vs {b}"}
            else:
                sql = a.pop("oracle")
                mismatch = oracle_compare(con, sql, dump / f) if sql else "no oracle SQL"
                table[f] = dict(a, check="digest" if sql else "rows_schema",
                                oracle=mismatch or "match")
            print(f"{scale} {f}: {table[f].get('oracle', table[f].get('error'))}", flush=True)
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
