"""Output checks, run with DuckDB after the benchmark JVM has exited.

Queries: each result is compared with the DuckDB oracle by the rules of
tools/check_oracle.py: columns sorted by name, rows sorted, every value
compared by its repr, and column types equal. Both sides are computed
fresh on every run.

Stream: the published drops (JSON files, one directory per drop) are
matched against the four datasets the consumer wrote."""
import os

import metrics as M

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _duckdb():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='3GB'")
    return con


def _connect(data_dir):
    con = _duckdb()
    for t in TABLES:
        src = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(src):
            src = os.path.join(src, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def summarize(rel):
    """Digest, column types and row count of a DuckDB relation."""
    cols = rel.columns
    types = {c: str(t) for c, t in zip(cols, rel.types)}
    rows = rel.fetchall()
    return {"columns": sorted(cols), "types": types, "rows": len(rows),
            "digest": M.digest(cols, rows)}


def compare(got, want):
    """None when equal, else the first difference found, in words."""
    if got["columns"] != want["columns"]:
        return f"columns spark={got['columns']} oracle={want['columns']}"
    bad = sorted(f"{c}: spark={got['types'][c]} oracle={want['types'][c]}"
                 for c in got["types"] if got["types"][c] != want["types"][c])
    if bad:
        return "column types differ: " + "; ".join(bad)
    if got["rows"] != want["rows"]:
        return f"rows spark={got['rows']} oracle={want['rows']}"
    if got["digest"] != want["digest"]:
        return "values differ"
    return None


def query_results(data_dir, out_dir, sqls):
    """{query: None | difference} for every query with a result dir."""
    con = _connect(data_dir)
    out = {}
    for name, sql in sorted(sqls.items()):
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        try:
            want = summarize(con.sql(sql))
        except Exception as e:  # duckdb raises many types
            out[name] = f"oracle SQL error: {type(e).__name__}: {e}"
            continue
        try:
            got = summarize(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
        except Exception as e:
            out[name] = f"cannot read result: {type(e).__name__}: {e}".splitlines()[0]
            continue
        out[name] = compare(got, want)
    con.close()
    return out


def _stream_phase(con, published_glob, out_dir):
    """Accounting of one consuming phase against the drops published to
    it (drop number = the number in the drop's directory name)."""
    def ds(name):
        return (f"read_parquet('{out_dir}/{name}/*/*.parquet', "
                "hive_partitioning=false)")
    con.execute(
        "CREATE OR REPLACE TEMP VIEW pub AS SELECT event_id, CAST(regexp_extract("
        "filename, 'batch_([0-9]+)', 1) AS BIGINT) AS drop_no "
        f"FROM read_json_auto('{published_glob}', filename=true)")
    con.execute(f"CREATE OR REPLACE TEMP VIEW raw AS SELECT * FROM {ds('raw')}")
    one = lambda sql: con.sql(sql).fetchone()[0]
    drops = con.sql(
        "SELECT p.drop_no, count(r.batch_id), count(DISTINCT r.batch_id), "
        "max(r.batch_id) FROM pub p LEFT JOIN raw r USING (event_id) "
        "GROUP BY p.drop_no ORDER BY p.drop_no").fetchall()
    sums = lambda name: (f"(SELECT batch_id, sum(trip_count) AS s FROM {ds(name)} "
                         "GROUP BY batch_id)")
    mismatch = one(
        "SELECT count(*) FROM (SELECT batch_id, count(*) AS n FROM raw GROUP BY "
        f"batch_id) r FULL JOIN {sums('pickup_agg')} p USING (batch_id) "
        f"FULL JOIN {sums('dropoff_agg')} d USING (batch_id) "
        "WHERE r.n IS DISTINCT FROM p.s OR r.n IS DISTINCT FROM d.s")
    cols = "location_id, trip_count, aggregation_type, batch_id"
    union = (f"SELECT * FROM (SELECT {cols} FROM {ds('pickup_agg')} UNION ALL "
             f"SELECT {cols} FROM {ds('dropoff_agg')})")
    combined = f"SELECT {cols} FROM {ds('combined_agg')}"
    diff = (one(f"SELECT count(*) FROM ({combined} EXCEPT ALL {union})")
            + one(f"SELECT count(*) FROM ({union} EXCEPT ALL {combined})"))
    return {
        "published_rows": one("SELECT count(*) FROM pub"),
        "raw_rows": one("SELECT count(*) FROM raw"),
        "raw_distinct_event_ids": one("SELECT count(DISTINCT event_id) FROM raw"),
        "unpublished_rows": one(
            "SELECT count(*) FROM raw ANTI JOIN pub USING (event_id)"),
        "drops": [{"drop": d, "rows": n, "batches": b,
                   "batch_id": int(bid.removeprefix("batch_")) if bid else None}
                  for d, n, b, bid in drops],
        "batches_with_count_mismatch": mismatch,
        "combined_minus_union_rows": diff,
    }


def stream_outputs(dirs):
    """Checks of the catch-up and paced outputs of a stream_ingest run."""
    con = _duckdb()
    try:
        return {
            "catchup": _stream_phase(con, f"{dirs['bus']}/*/part-*", dirs["catchup"]),
            "paced": _stream_phase(con, f"{dirs['watched']}/*/part-*", dirs["paced"]),
        }
    finally:
        con.close()
