"""The conversion-dims record and the single page-title derivation:
conversion_dims' three frames, the conversion-family registered
queries against their DuckDB twins, and the streaming service's stored
dims layout."""

import os
import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_queries import TABLES, norm_frame  # noqa: E402

CONVERSION_QUERIES = [
    "kg_subject_types",
    "kg_best_title",
    "kg_wiki_titles",
    "kg_fact_rows",
    "kg_category_rows",
    "kg_page_stats",
    "kg_pages_xml",
    "kg_incremental_pages",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", CONVERSION_QUERIES)
def test_conversion_query_matches_oracle(spark, sf_dir, duck, name):
    """Each query equals its ORACLES twin, compared as
    tools/check_queries.py does: column names, row count, and the
    order-insensitive normalised values."""
    from rdf2smw_spark.queries import ORACLES, QUERIES
    from rdf2smw_spark.session import release_scoped_caches

    try:
        got = QUERIES[name](spark, sf_dir).toPandas()
    finally:
        release_scoped_caches()
    want = duck.sql(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert norm_frame(got) == norm_frame(want)


def test_conversion_dims_is_three_frames(spark, sf_dir):
    from rdf2smw_spark.operators.convert import conversion_dims
    from rdf2smw_spark.session import release_scoped_caches
    from rdf2smw_spark.sources.testdata import testdata_triples

    try:
        dims = conversion_dims(spark, testdata_triples(spark, sf_dir))
        assert type(dims) is tuple
        assert [d.columns for d in dims] == [
            ["subj", "uri_type", "raw_title"],
            ["uri", "depth"],
            ["pred", "pred_title", "has_types"],
        ]
        preds = dims[2]
        assert preds.count() == preds.select("pred").distinct().count() > 0
    finally:
        release_scoped_caches()


def test_stream_rebuilds_from_five_dim_layout(spark, tmp_path):
    """A work dir whose dims/ holds the older five-frame layout (st, bt,
    cd, pt, pst) takes the rebuild path on the next fact delta instead
    of failing, and leaves the three-frame layout behind."""
    import shutil

    from rdf2smw_spark.operators.convert import triples_to_pages
    from rdf2smw_spark.operators.render import render_all
    from rdf2smw_spark.sources.ntriples import parse_ntriples_lines
    from rdf2smw_spark.streaming.stream import run_stream_incremental_pages

    src = tmp_path / "nt_in"
    os.makedirs(src)
    work = str(tmp_path / "work")
    dims_dir = os.path.join(work, "dims")

    (src / "a.nt").write_text(
        '<http://e/s1> <http://e/p1> "v1" .\n'
        '<http://e/s2> <http://e/p1> "v2" .\n'
    )
    run_stream_incremental_pages(spark, str(src), work)

    # rewrite dims/ as the five-frame layout
    subjects, cd, preds = (
        spark.read.parquet(os.path.join(dims_dir, n)).localCheckpoint()
        for n in ("subjects", "class_depth", "preds")
    )
    shutil.rmtree(dims_dir)
    legacy = {
        "st": subjects.select("subj", "uri_type"),
        "bt": subjects.select("subj", "raw_title"),
        "cd": cd,
        "pt": preds.select("pred", "pred_title"),
        "pst": preds.select("pred", "has_types"),
    }
    for n, df in legacy.items():
        df.write.parquet(os.path.join(dims_dir, n))

    # a fact delta on a known predicate: the fast path if dims were stored
    (src / "b.nt").write_text('<http://e/s1> <http://e/p1> "v3" .\n')
    r = run_stream_incremental_pages(spark, str(src), work)
    assert r["batches"] == 1
    for n in ("subjects", "class_depth", "preds"):
        assert os.path.isdir(os.path.join(dims_dir, n)), n

    lines = spark.read.text(str(src)).withColumn("src_url", F.input_file_name())
    t = parse_ntriples_lines(lines).filter(F.col("error").isNull()).select(
        "subj", "pred", "obj", "obj_is_iri", "obj_datatype", "src_url"
    )
    c, p, tp = render_all(triples_to_pages(spark, t), use_templates=True)
    want = c.unionByName(p).unionByName(tp).select("title", "page_type", "xml")
    got = spark.read.parquet(os.path.join(work, "pages"))
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))
