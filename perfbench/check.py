"""Output checks for one benchmark run, made after the harness JVM exits and
outside every timed region. Each returns a list of problems; any problem
fails the run.

- etl_drain: every iteration's drain SUCCEEDED, and each object's written
  zone holds exactly its records under the bucket its upload hint named,
  with processed = true and uppercase_name = upper(coalesce(name, '')).
- tpch_sql, refinery: each query's result matches its DuckDB oracle
  (SparkEntry.oracleSql) on the same seeded corpus, cell by cell with
  floats to 1e-9 relative, and every timed `.count()` equals the oracle's
  row count.
- kernels: each kernel equals its builtin form on every pool row (integer
  kernels exactly, float kernels to 1e-9 relative), and every timed
  reduction equals the pool reduction times the repetition count.
"""
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check(workload, record, inputs, work, oracles=None):
    """Problems found in one run; `oracles` are the oracle_results of the
    registry workloads."""
    extra = record.get("traced_extra", {})
    if workload == "etl_drain":
        problems = check_etl(record, inputs, work)
        if "kernels" in extra:
            problems += check_kernels(extra["kernels"]["checks"])
        return problems
    if workload == "kernels":
        return check_kernels(record["checks"])
    problems = check_oracles(record, work, oracles)
    for name, q in sorted(extra.get("queries", {}).items()):
        if name not in oracles or q["rows"] != len(oracles[name][1]):
            problems.append(f"{name}: {q['rows']} rows, oracle differs or missing")
    return problems


def check_etl(record, inputs, work):
    problems = []
    with open(os.path.join(inputs, "etl", "expected.json")) as f:
        expected = json.load(f)
    states = record["checks"]["states"]
    for i, it in enumerate(record["iterations"]):
        if states[i] != "SUCCEEDED":
            problems.append(f"iteration {i}: drain state {states[i]}")
            continue
        out = os.path.join(work, "etl", f"iter-{i}", "out")
        for e in expected:
            files = glob.glob(os.path.join(out, e["bucket"], "transformed", e["key"],
                                           "part-*"))
            pairs = []
            for fn in files:
                with open(fn, encoding="utf-8") as f:
                    for line in f:
                        if not line.strip():
                            continue
                        r = json.loads(line)
                        want = (r.get("name") or "").upper()
                        if r.get("processed") is not True or r.get("uppercase_name") != want:
                            problems.append(f"iteration {i} {e['key']}: bad record {line[:120]}")
                        if r.get("_meta_pipeline-output-bucket") != e["bucket"]:
                            problems.append(f"iteration {i} {e['key']}: wrong routing hint")
                        pairs.append([r.get("id"), r.get("uppercase_name")])
            pairs.sort(key=lambda p: (p[0] is not None, p[0] or 0, p[1]))
            if pairs != e["pairs"]:
                problems.append(f"iteration {i} {e['key']}: {len(pairs)} records written, "
                                f"{e['records']} expected or contents differ")
    return problems


def _cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def _sort_key(row):
    return tuple((v is None, str(v)) for v in row)


def oracle_results(inputs, work):
    """Run every oracle the harness listed (results/oracle_sql.json) in
    DuckDB over the seeded corpus: name -> (columns, rows)."""
    import duckdb
    with open(os.path.join(work, "results", "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    # never reach for an extension over the network
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    for t in TABLES:
        p = os.path.join(inputs, "corpus", f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        out[name] = (list(rel.columns), rel.fetchall())
    return out


def check_oracles(record, work, oracles):
    import duckdb
    problems = []
    results = os.path.join(work, "results")
    rows = record["checks"]["rows"]
    con = duckdb.connect()
    for name in rows:
        if name not in oracles:
            problems.append(f"{name}: no oracle")
            continue
        got_rel = con.sql(f"SELECT * FROM '{os.path.join(results, name)}/*.parquet'")
        got_cols = list(got_rel.columns)
        exp_cols, exp_rows = oracles[name]
        if sorted(got_cols) != sorted(exp_cols):
            problems.append(f"{name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            continue
        order = sorted(got_cols)
        gi = [got_cols.index(c) for c in order]
        ei = [exp_cols.index(c) for c in order]
        got = sorted((tuple(r[i] for i in gi) for r in got_rel.fetchall()), key=_sort_key)
        exp = sorted((tuple(r[i] for i in ei) for r in exp_rows), key=_sort_key)
        if len(got) != len(exp):
            problems.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif not all(_cells_equal(a, b) for g, e in zip(got, exp) for a, b in zip(g, e)):
            problems.append(f"{name}: cells differ from the oracle")
        if rows[name] != [len(exp)]:
            problems.append(f"{name}: timed counts {rows[name]}, oracle rows {len(exp)}")
    extra = record.get("traced_extra", {}).get("queries", {})
    problems += [f"{n}: never completed" for n in sorted(set(oracles) - set(rows) - set(extra))]
    return problems


def check_kernels(checks):
    problems = []
    for name, c in sorted(checks.items()):
        if c["row_mismatches"]:
            problems.append(f"{name}: {c['row_mismatches']} pool rows differ from the builtin")
        if not c["sums_ok"]:
            problems.append(f"{name}: timed sums {c['timed_sums']} != {c['expected_sum']}")
    return problems
