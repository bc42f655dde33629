"""Seeded benchmark inputs, generated with DuckDB from the read-only
testdata tables and the repo's own mirrored synthesis SQL (no Spark, no JVM).

Every input is a pure function of (workload, scale, seed) and is cached
under the work directory, so a repeated seed costs nothing and input
generation never enters a timed region. Files are written with one
DuckDB thread and an explicit row order, so the same seed yields
byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import duckdb

from rdf2smw_spark.schemas import DT_LANGSTRING, TYPE_PROPERTY_URI
from rdf2smw_spark.sources.testdata import ORDER, duckdb_triples_sql
from rdf2smw_spark.sources.webpages import duckdb_pages_sql

# Copies of every synthetic document in web_crawl: the sf0.1 corpus has
# 5,000 documents; two copies make the per-page UDF work a visible share
# of the pipeline next to its fixed per-stage cost, while one cold run
# still fits the benchmark's time budget.
WEB_REPLICAS = 2
# The delta holds the fact triples of exactly one order in DELTA_SHARE,
# picked by seeded hash rank: a fixed size keeps seeds comparable.
DELTA_SHARE = 100

KG_TABLES = ("customer", "nation", "region", "orders")


def testdata_root() -> str:
    """Directory holding sf0.001/, sf0.01/ and sf0.1/ (read-only).

    $SPARK_GRAFT_SF_DIR names one scale directory, as for bench.py; the
    default is bench.py's own."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        import bench

        sf_dir = bench.SF_DIR
    return os.path.dirname(os.path.abspath(sf_dir))


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET threads = 1")
    con.sql("SET TimeZone = 'UTC'")
    return con


def _register(con: duckdb.DuckDBPyConnection, sf_dir: str, tables) -> None:
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            raise FileNotFoundError(path)
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")


def _nt_term(obj: str, is_iri: bool, datatype: str | None) -> str:
    if is_iri:
        return f"<{obj}>"
    lex = (
        obj.replace("\\", "\\\\").replace('"', '\\"')
        .replace("\n", "\\n").replace("\r", "\\r")
    )
    if datatype is None:
        return f'"{lex}"'
    if datatype == DT_LANGSTRING:
        raise ValueError("language-tagged literals have no tag in the testdata graph")
    return f'"{lex}"^^<{datatype}>'


def _publish(tmp: str, final: str, meta: dict) -> dict:
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(tmp, final)
    return meta


def _cached(final: str):
    path = os.path.join(final, "meta.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return None


def _fresh_tmp(final: str) -> str:
    tmp = final + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    return tmp


def web_pages(work: str, sf: str, seed: int) -> dict:
    """web_crawl input: the synthetic crawl of duckdb_pages_sql (one
    capture per document, a second capture for every tenth), replicated
    WEB_REPLICAS times under seeded url suffixes and written in a
    seeded row order. Returns meta with the pages path."""
    final = os.path.join(work, "inputs", f"web_crawl-{sf}-x{WEB_REPLICAS}-seed{seed}")
    meta = _cached(final)
    if meta is not None:
        return meta
    tmp = _fresh_tmp(final)
    con = _connect()
    _register(con, os.path.join(testdata_root(), sf), ["documents"])
    key = f"'{seed}:' || p.url || ':' || r.i"
    con.sql(f"""
        CREATE TABLE pages AS
        SELECT p.url || '-' || substr(md5({key}), 1, 8) AS url,
               CAST(p.warc_ts AS TIMESTAMPTZ) AS warc_ts,
               encode(p.html_str) AS html,
               CAST(NULL AS VARCHAR) AS text,
               p.lang,
               p.html_str
        FROM {duckdb_pages_sql()} p CROSS JOIN range({WEB_REPLICAS}) r(i)
    """)
    pages_path = os.path.join(tmp, "pages.parquet")
    con.sql(f"""
        COPY (SELECT url, warc_ts, html, text, lang FROM pages
              ORDER BY md5('{seed}:' || url || warc_ts), url, warc_ts)
        TO '{pages_path}' (FORMAT PARQUET)
    """)
    n_pages, n_urls = con.sql("SELECT count(*), count(DISTINCT url) FROM pages").fetchone()
    con.close()
    meta = {
        "workload": "web_crawl", "sf": sf, "seed": seed,
        "pages": os.path.join(final, "pages.parquet"),
        "n_pages": n_pages, "n_urls": n_urls,
    }
    return _publish(tmp, final, meta)


def kg_graph(work: str, sf: str) -> dict:
    """The testdata triple table at one scale (duckdb_triples_sql, the
    oracle twin of sources.testdata.testdata_triples). Seed-free: every
    kg_delta seed splits this same graph."""
    final = os.path.join(work, "inputs", f"kg-{sf}")
    meta = _cached(final)
    if meta is not None:
        return meta
    tmp = _fresh_tmp(final)
    con = _connect()
    _register(con, os.path.join(testdata_root(), sf), KG_TABLES)
    graph_path = os.path.join(tmp, "graph.parquet")
    con.sql(f"""
        COPY (SELECT * FROM {duckdb_triples_sql()}
              ORDER BY subj, pred, obj, obj_is_iri, obj_datatype, src_url)
        TO '{graph_path}' (FORMAT PARQUET)
    """)
    n, n_subj = con.sql(
        f"SELECT count(*), count(DISTINCT subj) FROM read_parquet('{graph_path}')"
    ).fetchone()
    con.close()
    meta = {
        "sf": sf, "graph": os.path.join(final, "graph.parquet"),
        "n_triples": n, "n_subjects": n_subj,
    }
    return _publish(tmp, final, meta)


def kg_delta(work: str, sf: str, seed: int) -> dict:
    """kg_delta input: the graph split into a standing base table
    (parquet) and a fact-only delta (N-Triples) holding every non-type
    triple of 1/DELTA_SHARE of the orders, the lowest by seeded hash.
    base ∪ delta is the graph."""
    graph = kg_graph(work, sf)
    final = os.path.join(work, "inputs", f"kg_delta-{sf}-1in{DELTA_SHARE}-seed{seed}")
    meta = _cached(final)
    if meta is not None:
        return meta
    tmp = _fresh_tmp(final)
    con = _connect()
    g = f"read_parquet('{graph['graph']}')"
    orders = f"(SELECT DISTINCT subj FROM {g} WHERE subj LIKE '{ORDER}%')"
    n_orders = con.sql(f"SELECT count(*) FROM {orders}").fetchone()[0]
    con.sql(f"""
        CREATE TABLE picked AS SELECT subj FROM {orders}
        ORDER BY md5('{seed}:' || subj), subj LIMIT {n_orders // DELTA_SHARE}
    """)
    in_delta = f"subj IN (SELECT subj FROM picked) AND pred <> '{TYPE_PROPERTY_URI}'"
    base_path = os.path.join(tmp, "base.parquet")
    con.sql(f"""
        COPY (SELECT * FROM {g} WHERE NOT ({in_delta})
              ORDER BY subj, pred, obj, src_url)
        TO '{base_path}' (FORMAT PARQUET)
    """)
    rows = con.sql(
        f"SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {g} "
        f"WHERE {in_delta} ORDER BY md5('{seed}:' || subj || pred || obj), subj, pred, obj"
    ).fetchall()
    with open(os.path.join(tmp, "delta.nt"), "w") as fh:
        for s, p, o, is_iri, dt in rows:
            fh.write(f"<{s}> <{p}> {_nt_term(o, is_iri, dt)} .\n")
    delta_subjects = sorted({r[0] for r in rows})
    with open(os.path.join(tmp, "delta_subjects.json"), "w") as fh:
        json.dump(delta_subjects, fh)
    con.close()
    meta = {
        "workload": "kg_delta", "sf": sf, "seed": seed,
        "graph": graph["graph"],
        "base": os.path.join(final, "base.parquet"),
        "delta": os.path.join(final, "delta.nt"),
        "delta_subjects": os.path.join(final, "delta_subjects.json"),
        "n_triples": graph["n_triples"], "n_subjects": graph["n_subjects"],
        "n_delta": len(rows), "n_delta_subjects": len(delta_subjects),
    }
    return _publish(tmp, final, meta)


def digest_dir(path: str) -> str:
    """sha256 over every file's relative name and bytes, in name order
    (meta.json excluded: it records absolute paths)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "meta.json":
                continue
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
