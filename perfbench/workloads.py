"""The benchmark's workloads: what one operation is, how its output is
checked against the repo's independent oracles, and which layer calls
the traced run wraps in spans.

Each workload is a closed loop from one client: the next operation
starts when the previous one has returned its complete output.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb

from perfbench import inputs
from perfbench.tracing import Span

SPARQL_SHAPES = (
    "select", "union_agg", "minus_bind", "builtins", "path_values",
    "path_seq", "path_plus", "ask", "describe", "subquery", "construct",
)
# The read that follows each kg_delta update: it reads exactly the order
# facts a delta rewrites (customer and status of every order).
READ_AFTER_WRITE = "construct"


# --- tracing helpers -------------------------------------------------------------


class NullTracer:
    """Untraced runs: spans cost nothing and force nothing."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield Span(name, 0.0, None, "")


@contextlib.contextmanager
def patched(obj, attr: str, wrapper_factory):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


class Forcer:
    """Persists and counts a layer's output inside its span, so work
    Spark would otherwise fuse into a later action runs under the
    layer's own job group. release() drops every frame it persisted."""

    def __init__(self):
        self.frames = []

    def __call__(self, df):
        df = df.persist()
        self.frames.append(df)
        return df, df.count()

    def release(self) -> None:
        while self.frames:
            self.frames.pop().unpersist()


def _traced(tracer, forcer, name, count_key=None, force=True):
    """Wrapper factory: run the layer call in a span and force each
    DataFrame it returns (a tuple of frames is forced element-wise, its
    counts kept as `each`); any other result is kept as `result`. With
    force=False the span only times the call."""
    from pyspark.sql import DataFrame

    def factory(orig):
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if not force:
                    return out
                if isinstance(out, DataFrame):
                    out, n = forcer(out)
                    if count_key:
                        sp.counts[count_key] = n
                elif isinstance(out, tuple) and all(isinstance(o, DataFrame) for o in out):
                    forced = [forcer(o) for o in out]
                    out = tuple(f for f, _ in forced)
                    sp.counts["each"] = [n for _, n in forced]
                else:
                    sp.counts["result"] = out
            return out
        return wrapper
    return factory


# --- oracle helpers ----------------------------------------------------------------


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _oracle_cache(work: str, key: str, sql: str, build):
    """Oracle results depend only on their inputs and SQL, so they are
    cached under work/oracle keyed by both (the SQL hash invalidates the
    cache when oracle code changes)."""
    path = os.path.join(work, "oracle", f"{key}-{_sha(sql)}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return value


def _norm_rows(pdf) -> list:
    from tools.check_queries import norm_frame

    return [list(r) for r in norm_frame(pdf)]


def _row_digest(*fields) -> str:
    return hashlib.sha256("\x1f".join(str(f) for f in fields).encode()).hexdigest()


def _mismatches(ours: list, expected: list) -> int:
    a = collections.Counter(map(tuple, ours))
    b = collections.Counter(map(tuple, expected))
    return sum(((a - b) + (b - a)).values())


def _ref_sim():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import ref_sim

    return ref_sim


def _precision_recall(page_rows, triples: list[tuple], titles: set | None) -> dict:
    """Fact and category P/R of our pages against tools/ref_sim (the
    paper's >= 0.95 metric); `titles` restricts both sides."""
    rs = _ref_sim()
    ref = rs.simulate(triples)
    facts = {(r["title"], f["property"], f["value"]) for r in page_rows for f in r["facts"]}
    cats = {(r["title"], c) for r in page_rows for c in r["categories"]}
    rf, rc = ref["facts"], ref["categories"]
    if titles is not None:
        rf = {f for f in rf if f[0] in titles}
        rc = {c for c in rc if c[0] in titles}
    fp, fr = rs.precision_recall(facts, rf)
    cp, cr = rs.precision_recall(cats, rc)
    return {
        "quality.fact_precision": fp, "quality.fact_recall": fr,
        "quality.category_precision": cp, "quality.category_recall": cr,
    }


# --- web_crawl ------------------------------------------------------------------


class WebCrawl:
    """Common-Crawl-style pages through plans.pipeline.run_web_pipeline
    (default gates, resume=False)."""

    name = "web_crawl"
    default_sf = "sf0.1"
    # A batch job: every run of it is a fresh process, so the measured
    # operation is the cold one.
    warmups = 0

    def inputs(self, work: str, sf: str, seed: int) -> dict:
        return inputs.web_pages(work, sf, seed)

    def setup(self, spark, meta: dict, work: str) -> dict:
        out = os.path.join(work, "runs", self.name)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "meta": meta, "work": work, "out": out, "ops": 0,
            "pages": spark.read.parquet(meta["pages"]),
        }

    def op(self, spark, st: dict, tracer) -> dict:
        """Each operation writes its own output directory, so outputs can
        be checked after later operations have run."""
        from rdf2smw_spark.plans import pipeline

        st["ops"] += 1
        out_dir = os.path.join(st["out"], f"op{st['ops']}")
        res = pipeline.run_web_pipeline(spark, st["pages"], out_dir, resume=False)
        return {
            "triples": res["triples"],
            "pages": res["pages_xml"] + res["properties_xml"] + res["templates_xml"],
            "res": res,
            "dir": out_dir,
        }

    def _our_pages(self, out: dict) -> str:
        return os.path.join(out["dir"], "wiki_pages", "**", "*.parquet")

    def _triples_sql(self, meta: dict) -> str:
        from rdf2smw_spark.triplify import duckdb_triplify_sql

        pages = (
            f"(SELECT url, decode(html) AS html_str "
            f"FROM read_parquet('{meta['pages']}'))"
        )
        return f"(WITH pages AS {pages} SELECT * FROM {duckdb_triplify_sql('pages')})"

    def expected(self, meta: dict, work: str) -> list:
        """Digests of oracle.fact_rows_sql over the mirrored triplify SQL
        of the same generated pages."""
        from rdf2smw_spark import oracle as orc

        sql = orc.fact_rows_sql(self._triples_sql(meta))

        def build():
            con = duckdb.connect()
            rows = con.sql(f"SELECT page_title, property, value FROM ({sql})").fetchall()
            return sorted(_row_digest(*r) for r in rows)

        key = f"web_facts-{meta['sf']}-seed{meta['seed']}"
        return _oracle_cache(work, key, sql, build)

    def _our_facts(self, out: dict) -> list:
        con = duckdb.connect()
        rows = con.sql(f"""
            SELECT DISTINCT title, f.property, f.value FROM (
              SELECT title, UNNEST(facts) AS f
              FROM read_parquet('{self._our_pages(out)}', hive_partitioning = false))
        """).fetchall()
        return [_row_digest(*r) for r in rows]

    def check(self, st: dict, out: dict) -> dict:
        """Fact rows of the wiki_pages checkpoint vs the oracle's."""
        expected = self.expected(st["meta"], st["work"])
        bad = _mismatches([[d] for d in self._our_facts(out)], [[d] for d in expected])
        return {"mismatched_rows": bad, "rows": len(expected)}

    def output_digest(self, st: dict, out: dict) -> str:
        """Digest of the run's fact rows and of its three XML stages."""
        con = duckdb.connect()
        parts = sorted(self._our_facts(out))
        for stage in ("pages_xml", "properties_xml", "templates_xml"):
            path = os.path.join(out["dir"], stage, "*.parquet")
            if glob.glob(path):
                rows = con.sql(f"SELECT title, page_type, xml FROM read_parquet('{path}')").fetchall()
                parts += sorted(_row_digest(stage, *r) for r in rows)
        return _row_digest(*parts)

    def quality(self, st: dict, out: dict, titles: set | None) -> dict:
        con = duckdb.connect()
        triples = con.sql(
            f"SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {self._triples_sql(st['meta'])} "
            "ORDER BY subj, pred, obj"
        ).fetchall()
        pages = con.sql(
            f"SELECT title, facts, categories FROM read_parquet('{self._our_pages(out)}')"
        ).fetchall()
        rows = [
            {"title": t, "facts": facts, "categories": cats}
            for t, facts, cats in pages
        ]
        return _precision_recall(rows, triples, None)

    def instrument(self, tracer, forcer):
        from rdf2smw_spark.operators import convert
        from rdf2smw_spark.plans import lineage, pipeline

        stack = contextlib.ExitStack()
        stack.enter_context(patched(pipeline, "latest_capture", _traced(tracer, forcer, "extract")))
        stack.enter_context(patched(pipeline, "extract_text", _traced(tracer, forcer, "extract", "docs_out")))
        stack.enter_context(patched(pipeline, "triplify", _traced(tracer, forcer, "triplify", "triples_out")))
        stack.enter_context(patched(pipeline, "triples_to_pages", _traced(tracer, forcer, "operators.convert", "pages_out")))
        stack.enter_context(patched(convert, "conversion_dims", _traced(tracer, forcer, "operators.convert.dims")))
        stack.enter_context(patched(pipeline, "render_all", _traced(tracer, forcer, "operators.render")))
        # materialize writes its input and returns a lazy read of the
        # checkpoint, which the next forced layer reads anyway
        stack.enter_context(patched(lineage.CheckpointStore, "materialize", _traced(tracer, forcer, "plans.lineage", force=False)))
        return stack

    def lineage_files(self, out: dict) -> tuple[int, int]:
        n, size = 0, 0
        for dirpath, _dirs, files in os.walk(out["dir"]):
            if os.path.basename(dirpath) == "_lineage":
                continue
            for f in files:
                if f.startswith("part-"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size


# --- kg_delta ---------------------------------------------------------------------


class KgDelta:
    """A standing KG takes a fact-only N-Triples delta: parse it
    (sources.ntriples), re-render the pages it touches
    (operators.incremental_kg.incremental_pages + render_all), collect
    them, then answer the read-after-write SPARQL shape over base ∪ delta."""

    name = "kg_delta"
    default_sf = "sf0.01"
    # A standing KG takes delta after delta: the measured operation is a
    # warm one, after one untimed operation has paid the JVM's and the
    # session's first-use costs.
    warmups = 1

    def inputs(self, work: str, sf: str, seed: int) -> dict:
        return inputs.kg_delta(work, sf, seed)

    def setup(self, spark, meta: dict, work: str) -> dict:
        return {
            "meta": meta, "work": work,
            "base": spark.read.parquet(meta["base"]),
            "shapes": registered_shapes(),
        }

    def op(self, spark, st: dict, tracer) -> dict:
        from rdf2smw_spark.operators import incremental_kg, render
        from rdf2smw_spark.session import release_scoped_caches
        from rdf2smw_spark.sources import ntriples

        delta, bad = ntriples.read_ntriples(spark, st["meta"]["delta"])
        with tracer.span("sources.ntriples"):
            n_bad = bad.count()
        pages = incremental_kg.incremental_pages(spark, st["base"], delta)
        content, _props, _tpls = render.render_all(pages, use_templates=True)
        with tracer.span("operators.render.collect"):
            rows = content.select("title", "page_type", "xml").collect()
        kg = st["base"].unionByName(delta)
        read = run_shape(st["shapes"][READ_AFTER_WRITE], kg, tracer)
        release_scoped_caches()
        return {
            "triples": st["meta"]["n_delta"],
            "pages": len(rows),
            "rows": [(r["title"], r["page_type"], r["xml"]) for r in rows],
            "bad_lines": n_bad,
            "read": read,
            "pages_df": pages,
        }

    def _graph_sql(self, meta: dict) -> str:
        return f"(SELECT * FROM read_parquet('{meta['graph']}'))"

    def expected(self, meta: dict, work: str) -> list:
        """Digests of oracle.pages_xml_sql content pages over the same
        graph whose titles a delta subject bears (the
        kg_incremental_pages oracle); builds every read shape's oracle
        cache too."""
        from rdf2smw_spark import oracle as orc

        sf = meta["sf"]
        pages_sql = orc.pages_xml_sql(self._graph_sql(meta))
        titles_sql = orc.wiki_titles_sql(self._graph_sql(meta))

        def build_pages():
            con = duckdb.connect()
            rows = con.sql(
                f"SELECT title, page_type, xml FROM ({pages_sql}) WHERE page_type NOT IN (2, 4)"
            ).fetchall()
            by_title: dict[str, list] = {}
            for t, pt, x in rows:
                by_title.setdefault(t, []).append(_row_digest(t, pt, x))
            return by_title

        def build_titles():
            con = duckdb.connect()
            return dict(con.sql(f"SELECT subj, page_title FROM ({titles_sql})").fetchall())

        by_title = _oracle_cache(work, f"kg_pages-{sf}", pages_sql, build_pages)
        title_of = _oracle_cache(work, f"kg_titles-{sf}", titles_sql, build_titles)
        for name in SPARQL_SHAPES:
            shape_oracle(work, sf, name)
        with open(meta["delta_subjects"]) as fh:
            seed_titles = sorted({title_of[s] for s in json.load(fh)})
        return [seed_titles, [d for t in seed_titles for d in by_title.get(t, [])]]

    def check(self, st: dict, out: dict) -> dict:
        """Content pages vs the oracle's, the read-after-write shape vs
        its ORACLES twin, and no quarantined delta line."""
        titles, expected = self.expected(st["meta"], st["work"])
        ours = [_row_digest(*r) for r in out["rows"]]
        bad_pages = _mismatches([[d] for d in ours], [[d] for d in expected])
        bad_read = check_shape(st, READ_AFTER_WRITE, out["read"]["rows"])
        return {
            "mismatched_rows": bad_pages + bad_read + out["bad_lines"],
            "rows": len(expected),
            "affected_titles": titles,
        }

    def output_digest(self, st: dict, out: dict) -> str:
        """Digest of the re-rendered pages and the read's rows."""
        pages = sorted(_row_digest(*r) for r in out["rows"])
        read = sorted(map(str, _norm_rows(out["read"]["rows"])))
        return _row_digest(*pages, *read)

    def quality(self, st: dict, out: dict, titles: set) -> dict:
        con = duckdb.connect()
        triples = con.sql(
            f"SELECT subj, pred, obj, obj_is_iri, obj_datatype FROM {self._graph_sql(st['meta'])} "
            "ORDER BY subj, pred, obj"
        ).fetchall()
        page_rows = out["pages_df"].select("title", "facts", "categories").collect()
        return _precision_recall(page_rows, triples, titles)

    def instrument(self, tracer, forcer):
        from rdf2smw_spark.operators import convert, incremental_kg, render
        from rdf2smw_spark.sources import ntriples

        stack = contextlib.ExitStack()
        stack.enter_context(patched(ntriples, "read_ntriples", _traced(tracer, forcer, "sources.ntriples")))
        stack.enter_context(patched(incremental_kg, "incremental_pages", _traced(tracer, forcer, "operators.incremental_kg")))
        stack.enter_context(patched(incremental_kg, "delta_forces_rebuild", _traced(tracer, forcer, "operators.incremental_kg.probe")))
        stack.enter_context(patched(incremental_kg, "affected_subjects", _traced(tracer, forcer, "operators.incremental_kg.affected", "affected_subjects")))
        stack.enter_context(patched(convert, "conversion_dims", _traced(tracer, forcer, "operators.convert.dims")))
        stack.enter_context(patched(convert, "triples_to_pages", _traced(tracer, forcer, "operators.convert", "pages_out")))
        stack.enter_context(patched(render, "render_all", _traced(tracer, forcer, "operators.render")))
        return stack


WORKLOADS = {w.name: w for w in (WebCrawl(), KgDelta())}


# --- SPARQL read shapes --------------------------------------------------------------


def registered_shapes() -> dict:
    """Query text of each registered kg_sparql_<shape> read, taken from
    the query registry itself so the shape and its ORACLES twin cannot
    drift apart: each registered function is called with the SPARQL
    entry points swapped for a recorder, and only the text it passes is
    kept. path_plus also unions the synthetic class chain into its
    graph; `extra_chain` marks it."""
    from rdf2smw_spark import queries, sparql

    shapes = {}

    class _Recorded(Exception):
        pass

    def recorder(triples, text):
        shapes[current] = {"text": text, "extra_chain": triples == "kg+chain"}
        raise _Recorded

    class _KG:
        def unionByName(self, _other):
            return "kg+chain"

    with contextlib.ExitStack() as stack:
        for fn in ("sparql_select", "sparql_construct", "sparql_query"):
            stack.enter_context(patched(sparql, fn, lambda _orig: recorder))
        stack.enter_context(patched(queries, "testdata_triples", lambda _orig: lambda *_a: _KG()))
        stack.enter_context(patched(queries._sameas, "synth_class_chain", lambda _orig: lambda *_a: None))
        for current in SPARQL_SHAPES:
            try:
                queries.QUERIES[f"kg_sparql_{current}"](None, None)
            except _Recorded:
                continue
            raise RuntimeError(f"kg_sparql_{current} issued no SPARQL query")
    return shapes


def run_shape(shape: dict, kg, tracer) -> dict:
    """sparql.sparql_query (compile) then collect (execute)."""
    from rdf2smw_spark import sparql

    with tracer.span("sparql") as sp:
        form, df = sparql.sparql_query(kg, shape["text"])
    with tracer.span("sparql.exec") as ex:
        rows = df.toPandas()
    sp.counts["rows_out"] = ex.counts["rows_out"] = len(rows)
    return {"form": form, "rows": rows}


def shape_oracle(work: str, sf: str, name: str) -> dict:
    """The ORACLES twin of kg_sparql_<name> over the testdata tables,
    normalised as tools/check_queries.py does (columns by name, floats
    rounded, order-insensitive)."""
    from rdf2smw_spark.queries import ORACLES

    sql = ORACLES[f"kg_sparql_{name}"]

    def build():
        con = duckdb.connect()
        sf_dir = os.path.join(inputs.testdata_root(), sf)
        for t in inputs.KG_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        pdf = con.sql(sql).df()
        return {"columns": sorted(pdf.columns), "rows": _norm_rows(pdf)}

    return _oracle_cache(work, f"sparql_{name}-{sf}", sql, build)


def check_shape(st: dict, name: str, result) -> int:
    """Mismatching rows between a shape's result and its oracle."""
    expected = shape_oracle(st["work"], st["meta"]["sf"], name)
    if sorted(result.columns) != expected["columns"]:
        return max(1, len(expected["rows"]))
    return _mismatches(_norm_rows(result), expected["rows"])
