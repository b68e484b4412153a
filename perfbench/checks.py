"""Output checks, run in DuckDB after the benchmark JVM has exited (so
outside every timed region)."""
import json
import os

import duckdb

from metrics import KG_SNAPSHOTS

KG_DIGESTED = ["triples", "canon", "nodes", "edges"]


def scan(path):
    """SQL relation over every parquet file under `path` (partition
    directories become columns)."""
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
            f"union_by_name = true)")


def digest(con, relation):
    """Order-independent digest of a relation: row count and the sum of a
    hash of every row. Row order and file split do not change it."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    row_hash = "hash(" + ", ".join('"' + c.replace('"', '""') + '"' for c in cols) + ")"
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum({row_hash}::HUGEINT), 0) FROM {relation}").fetchone()
    return f"{n}:{s}"


def digest_rows(d):
    return int(d.split(":", 1)[0])


def check_kg_dir(con, out_dir, expected):
    """Checks one KgRunner output dir. Returns (problems, rows)."""
    problems, digests, rows = [], {}, {}
    for snap in KG_SNAPSHOTS:
        d = os.path.join(out_dir, snap)
        mf = os.path.join(d, "_manifest.json")
        if not os.path.isfile(mf):
            problems.append(f"{snap}: no _manifest.json")
            continue
        try:
            with open(mf) as f:
                manifest_rows = json.load(f)["rows"]
            if snap in KG_DIGESTED:
                digests[snap] = digest(con, scan(d))
                n = digest_rows(digests[snap])
            else:
                n = con.execute(f"SELECT count(*) FROM {scan(d)}").fetchone()[0]
        except (OSError, ValueError, KeyError, duckdb.Error) as e:
            problems.append(f"{snap}: unreadable: {str(e).splitlines()[0][:300]}")
            continue
        rows[snap] = n
        if n != manifest_rows:
            problems.append(f"{snap}: manifest rows {manifest_rows} != parquet rows {n}")
    if rows.get("edges") != rows.get("triples"):
        problems.append(f"edges rows {rows.get('edges')} != triples rows {rows.get('triples')}")
    for snap, want in (expected or {}).items():
        if digests.get(snap) != want:
            problems.append(f"{snap}: digest {digests.get(snap)} != pinned {want}")
    return problems, rows


def corpus_views(con, data_dir):
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")


def check_query(con, results_dir, query, oracle_sql, expected):
    """Compares a query's full Spark result with its DuckDB oracle (as
    multisets of rows) and with the pinned digest. Returns (problems,
    digest), the digest None when the result cannot be read."""
    res = f"read_parquet('{results_dir}/{query}/*.parquet')"
    try:
        got = digest(con, res)
    except duckdb.Error as e:
        return [f"{query}: result unreadable: {str(e).splitlines()[0][:300]}"], None
    problems = []
    oracle = "(" + oracle_sql.replace("{OUT}", results_dir) + ")"
    try:
        n_o = con.execute(f"SELECT count(*) FROM {oracle}").fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {res} EXCEPT ALL SELECT * FROM {oracle})").fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM {oracle} EXCEPT ALL SELECT * FROM {res})").fetchone()[0]
        if extra or missing or n_o != digest_rows(got):
            problems.append(f"{query}: {extra} rows not in oracle, {missing} oracle rows "
                            f"missing ({digest_rows(got)} vs {n_o} rows)")
    except duckdb.Error as e:
        problems.append(f"{query}: oracle compare failed: {str(e).splitlines()[0][:300]}")
    if expected is not None and got != expected:
        problems.append(f"{query}: digest {got} != pinned {expected}")
    return problems, got
