#!/usr/bin/env python3
"""Regenerate perfbench/expected/<workload>.tsv from the DuckDB oracle.

    python3 perfbench/gen_expected.py select operators stream

For each query of a workload this runs `SparkEntry.oracleSql` in DuckDB over
the workload's input tables and records the oracle result's row count and
digest. The digest is type-strict and compares doubles bitwise, as
tools/local_verify.py does, and matches perfbench/Digest.scala bit for bit
(both check TEST_VECTOR_DIGEST). A query without an oracle records only the
engine's row count. The engine's own digest is printed beside the oracle's,
so a disagreement shows here, before the benchmark records anything.
Needs the duckdb and pyarrow Python modules; the benchmark itself does not.
"""
import datetime
import hashlib
import json
import os
import struct
import sys
from pathlib import Path

HOME = Path(__file__).resolve().parent
sys.path.insert(0, str(HOME))
import run  # noqa: E402  (the benchmark's own build and JVM launcher)

DATA = Path(os.environ.get("PERFBENCH_DATA", Path.home() / "testdata"))

# Digest of the table built by test_vector(); DigestSpec.scala asserts the same.
TEST_VECTOR_DIGEST = "8b795c6c91027cf27dd354a9b5aeae1b"


def type_sig(t):
    import pyarrow.types as pt
    for pred, sig in ((pt.is_int8, "i8"), (pt.is_int16, "i16"), (pt.is_int32, "i32"),
                      (pt.is_int64, "i64"), (pt.is_float32, "f32"), (pt.is_float64, "f64"),
                      (pt.is_boolean, "bool"), (pt.is_date, "date")):
        if pred(t):
            return sig
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "bin"
    if pt.is_timestamp(t):
        return "ts" if t.tz else "tsntz"
    if pt.is_decimal(t):
        return f"dec({t.precision},{t.scale})"
    if pt.is_list(t) or pt.is_large_list(t):
        return f"list<{type_sig(t.value_type)}>"
    return str(t)


EPOCH = datetime.date(1970, 1, 1)


def cell(v, t):
    import pyarrow.types as pt
    if v is None:
        return "N"
    if pt.is_integer(t):
        return f"I{v}"
    if pt.is_float64(t):
        bits = 0x7ff8000000000000 if v != v else struct.unpack(">Q", struct.pack(">d", v))[0]
        return f"F{bits:016x}"
    if pt.is_float32(t):
        bits = 0x7fc00000 if v != v else struct.unpack(">I", struct.pack(">f", v))[0]
        return f"E{bits:08x}"
    if pt.is_string(t) or pt.is_large_string(t):
        return f"S{len(v.encode())}:{v}"
    if pt.is_boolean(t):
        return "B1" if v else "B0"
    if pt.is_date(t):
        return f"D{(v - EPOCH).days}"
    if pt.is_timestamp(t):
        return ("T" if t.tz else "U") + str(v)  # micros, see columns()
    if pt.is_decimal(t):
        return "M" + str(int(v.scaleb(t.scale)))
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "X" + v.hex()
    if pt.is_list(t) or pt.is_large_list(t):
        return f"L{len(v)}[" + ",".join(cell(x, t.value_type) for x in v) + "]"
    return "?" + str(v)


def columns(tbl):
    """(name, type, python values) per column, sorted by name; timestamps
    become epoch microseconds."""
    import pyarrow as pa
    import pyarrow.types as pt
    out = []
    for i in sorted(range(tbl.num_columns), key=lambda i: (tbl.schema.field(i).name, i)):
        f = tbl.schema.field(i)
        col = tbl.column(i)
        if pt.is_timestamp(f.type):
            col = col.cast(pa.timestamp("us", f.type.tz)).cast(pa.int64())
        out.append((f.name, f.type, col.to_pylist()))
    return out


def digest(tbl):
    cols = columns(tbl)
    schema = ",".join(f"{n}:{type_sig(t)}" for n, t, _ in cols)
    hashes = []
    for r in range(tbl.num_rows):
        s = ",".join(cell(vals[r], t) for _, t, vals in cols)
        hashes.append(hashlib.sha256(s.encode()).digest()[:16])
    h = hashlib.sha256(schema.encode() + b"\n")
    for x in sorted(hashes):
        h.update(x)
    return tbl.num_rows, h.hexdigest()[:32]


def test_vector():
    import pyarrow as pa
    return pa.table({
        "b": pa.array([1, None, -7], pa.int64()),
        "a": pa.array(["x", "é,1", None], pa.string()),
        "c": pa.array([-0.0, 1.5, float("nan")], pa.float64()),
        "d": pa.array([datetime.date(2020, 1, 2), None, EPOCH], pa.date32()),
        "e": pa.array([True, False, None], pa.bool_()),
    })


def generate(workload):
    import duckdb
    dump = run.OUT / f"oracle-{workload}.json"
    run.OUT.mkdir(parents=True, exist_ok=True)
    code = run.run_jvm(["oracle", "--workload", workload, "--out", str(dump),
                        "--home", str(run.HOME)], 1800)
    if code != 0:
        sys.exit(f"oracle dump for {workload} failed ({code})")
    d = json.loads(dump.read_text())
    sf_dir = DATA / d["sf"]
    con = duckdb.connect()
    for p in sorted(sf_dir.glob("*.parquet")):
        con.execute(f"CREATE OR REPLACE VIEW {p.stem} AS SELECT * FROM '{p}'")
    lines = [f"# {workload}: query, rows, digest ('-' = no oracle, rows from the engine)",
             f"# DuckDB {duckdb.__version__} oracle over {d['sf']}; regenerate with "
             "perfbench/gen_expected.py"]
    bad = 0
    for q, e in sorted(d["queries"].items()):
        if e["oracle"] is None:
            lines.append(f"{q}\t{e['rows']}\t-")
            print(f"  rows {q}: {e['rows']}")
            continue
        rows, dig = digest(con.execute(e["oracle"]).arrow())
        same = dig == e["digest"]
        bad += not same
        print(f"  {'OK  ' if same else 'DIFF'} {q}: oracle {rows} rows {dig}, "
              f"engine {e['rows']} rows {e['digest']}")
        lines.append(f"{q}\t{rows}\t{dig}")
    (HOME / "expected" / f"{workload}.tsv").write_text("\n".join(lines) + "\n")
    return bad


def main():
    got = digest(test_vector())[1]
    if got != TEST_VECTOR_DIGEST:
        sys.exit(f"digest test vector: got {got}, want {TEST_VECTOR_DIGEST}")
    workloads = sys.argv[1:] or ["select", "operators", "stream"]
    run.build()
    bad = sum(generate(w) for w in workloads)
    print(f"{bad} queries where the engine disagrees with the oracle")


if __name__ == "__main__":
    main()
