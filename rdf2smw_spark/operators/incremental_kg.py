"""Incremental KG page maintenance: given the standing triple table and
a (much smaller) delta of new/changed fact triples, re-render ONLY the
wiki pages the delta can affect instead of re-running the whole
conversion — the continuous-crawl counterpart of the reference's
one-shot batch run.

What a delta can affect (dependency classes):

1. A plain FACT triple (pred outside rdf:type / rdfs:subClassOf / the
   title properties) only changes the page(s) rendered for its SUBJECT's
   title. The incremental fast path handles this class.
2. A SCHEMA-ish triple — rdf:type, rdfs:subClassOf, or any title
   property — feeds the global dimensions (subject types, best titles,
   class depths): a single such triple can retitle an entity referenced
   from arbitrarily many pages, or shift category depths everywhere.
   The fast path detects this class with one bounded probe and falls
   back to the full rebuild — honest invalidation beats a stale wiki.

Pages are keyed by TITLE, not subject: two subjects whose titles
collide (e.g. an unlabeled customer and an order sharing the numeric
local name) render interleaved <page> blocks under one title, so
re-rendering a title must re-aggregate EVERY subject mapping to it.
The affected set is therefore closed over titles: delta subjects →
their titles → all subjects bearing those titles.

Scale shape: the title closure is two semi-joins against the slim
(subj, title) dim; the restricted conversion (convert.triples_to_pages
`only_subjects`) runs dims over the full stream (cheap pred-filtered
scans) but stage B — the expensive enrichment + salted groupBy — over
the delta's subjects only. At a 0.1% daily delta of a 10^12-triple KG,
that is a 1000x smaller shuffle than the rebuild, and the fallback
cost is exactly the old full run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf2smw_spark.functions.textnorm import sql_local_name, sql_wiki_title_full
from rdf2smw_spark.operators.convert import page_titles
from rdf2smw_spark.operators.dimensions import subject_types_and_titles
from rdf2smw_spark.schemas import (
    SUBCLASS_PROPERTY_URI,
    TITLE_PROPERTIES,
    TYPE_PROPERTY_URI,
)

SCHEMA_PREDS = list(TITLE_PROPERTIES) + [TYPE_PROPERTY_URI, SUBCLASS_PROPERTY_URI]


def _subject_titles(full: DataFrame, subjects: DataFrame | None = None) -> DataFrame:
    """(subj, title) for every subject — convert.page_titles, the SAME
    derivation triples_to_pages renders with, so the closure keys match
    the rendered page titles exactly.

    subjects: the pre-derived subjects dim (the first member of
    convert.conversion_dims) — pass it when the caller already derived
    the conversion dims from the SAME full stream, so the title closure
    shares that plan instead of re-deriving the schema-slice pass."""
    if subjects is None:
        subjects = subject_types_and_titles(
            full.filter(F.col("pred").isin(SCHEMA_PREDS))
        )
    return page_titles(full.select("subj").distinct(), subjects).select("subj", "title")


def affected_subjects(
    full: DataFrame, delta: DataFrame, titles: DataFrame | None = None
) -> DataFrame:
    """Title-closed affected set: every subject whose page title is
    shared with some delta subject. Two semi-joins on the slim
    (subj, title) dim — never the fact stream.

    titles: a MAINTAINED (subj, title) dim from the previous run. On
    the fast path (no schema predicates in the delta) titles cannot
    change, so a standing service passes the stored dim and skips the
    full-stream title pass entirely — see maintained_subject_titles and
    run_stream_incremental_pages."""
    from rdf2smw_spark.session import scoped_persist

    if titles is None:
        titles = scoped_persist(_subject_titles(full))
    seed = titles.join(
        delta.select("subj").distinct(), "subj", "semi"
    ).select("title").distinct()
    return titles.join(seed, "title", "semi").select("subj").distinct()


def maintained_subject_titles(titles: DataFrame, delta: DataFrame) -> DataFrame:
    """Advance the maintained (subj, title) dim by a FAST-PATH delta:
    existing subjects keep their titles (the fast path bars every
    title-feeding predicate), and delta-new subjects — having no title
    properties or type declarations by the same guard — title as the
    plain local-name chain. O(|delta|) work, no full-stream pass."""
    new_subjs = (
        delta.select("subj").distinct().join(titles.select("subj"), "subj", "anti")
    )
    new_titles = new_subjs.select(
        "subj",
        F.expr(sql_wiki_title_full(sql_local_name("subj"))).alias("title"),
    )
    return titles.unionByName(new_titles)


def delta_forces_rebuild(
    base: DataFrame, delta: DataFrame, dims: tuple | None = None
) -> bool:
    """True when the delta invalidates globally (dependency classes 2-3):
    it carries a schema-ish predicate, a predicate the dims have never
    seen (its pred_title would be missing), or a NEW (pred, SMW-type)
    pair whose Property page no affected subject would re-render.
    Bounded limit(1) probes — collect-is-the-guard discipline. Public so
    a standing service (run_stream_incremental_pages) can branch on the
    same decision and keep its maintained dims consistent.

    dims: when the maintained conversion dims are available, the probe
    checks the delta against the stored predicate inventory (preds:
    every known pred and its SMW types) — NO base scan at all;
    otherwise it derives the (pred, type) inventory from base (one
    distinct-projection scan). New (pred, NULL-type) combinations on a known pred do not
    rebuild: NULL types never contribute 'Has type' facts."""
    if delta.filter(F.col("pred").isin(SCHEMA_PREDS)).limit(1).count() > 0:
        return True
    from rdf2smw_spark.functions.textnorm import sql_smw_type

    ty = F.expr(sql_smw_type("obj_is_iri", "obj_datatype"))
    d_pairs = delta.select("pred", ty.alias("__ty")).distinct()
    if dims is not None:
        _subjects, _cd, preds = dims
        if (
            d_pairs.select("pred").distinct()
            .join(preds.select("pred"), "pred", "anti")
            .limit(1).count() > 0
        ):
            return True
        known = preds.select("pred", F.explode("has_types").alias("__ty"))
        new_pairs = d_pairs.filter(F.col("__ty").isNotNull()).join(
            known, ["pred", "__ty"], "anti"
        )
        return new_pairs.limit(1).count() > 0
    new_pairs = d_pairs.join(
        base.select("pred", ty.alias("__ty")).distinct(), ["pred", "__ty"], "anti"
    )
    return new_pairs.limit(1).count() > 0


def incremental_pages(
    spark: SparkSession,
    base: DataFrame,
    delta: DataFrame,
    subject_titles: DataFrame | None = None,
    dims: tuple | None = None,
    full: DataFrame | None = None,
) -> DataFrame:
    """WikiPage rows for every page the delta touches, byte-identical
    to the same pages of a full rebuild over base ∪ delta (that identity
    IS the oracle of the registered query). Falls back transparently to
    the full conversion when the delta contains schema-ish predicates
    (dependency class 2 above) — detected with one limit(1) probe, the
    collect-is-the-guard discipline.

    subject_titles / dims: MAINTAINED copies of the (subj, title) dim
    and the three conversion dims from the previous run. Both are pure
    functions of exactly the inputs delta_forces_rebuild probes, so on
    the fast path a standing service passes the stored frames and the
    drain does NO full-stream dimension pass at all — the remaining
    O(corpus) work is the one columnar scan feeding the subject
    semi-join.

    full: when base and delta are DISJOINT filters of one frame, pass
    that frame to skip the union-of-two-filtered-scans plan (the
    one-shot registered query does this; a standing service unions
    its stored table with the drain for real)."""
    from rdf2smw_spark.operators.convert import conversion_dims, triples_to_pages
    from rdf2smw_spark.session import scoped_persist

    # one persist shared by every full-stream consumer (stage B reads
    # the union twice — obj-title dim + enrichment; measured: skipping
    # the persist on the fast path RAISES wall time 14s -> 25s at sf0.1)
    full = scoped_persist(base.unionByName(delta) if full is None else full)
    # the rebuild probe must see the PREVIOUS state's inventory (base or
    # maintained dims) — never dims derived from base ∪ delta, which
    # would contain the delta's own novelties and mask every rebuild
    if delta_forces_rebuild(base, delta, dims=dims):
        return triples_to_pages(spark, full, cache=False)
    if dims is None:
        # fast path established: dims(full) == dims(base-maintained), so
        # ONE derivation now serves the title closure (subjects) AND the
        # restricted conversion — without this, subject types and titles
        # were derived twice per drain (measured 22s -> 12s at sf0.001)
        dims = conversion_dims(spark, full)
    subjects, _cd, _preds = dims
    if subject_titles is None:
        subject_titles = scoped_persist(_subject_titles(full, subjects))
    return triples_to_pages(
        spark,
        full,
        cache=False,
        only_subjects=affected_subjects(full, delta, titles=subject_titles),
        dims=dims,
    )
