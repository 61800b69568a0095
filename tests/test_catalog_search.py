"""``catalog.search_tokens`` against the term-table join it replaced.

The join-free search (term array literal filtered against each entry's
token set, one aggregate) must return exactly what the explode +
broadcast-join formula returned, for any term list: duplicate terms
count once per listing in ``n_hits``, terms match case-insensitively,
the empty term never matches, and a term absent everywhere adds nothing.
Schema signatures with comma-bearing nested types
(``map<string,string>``, ``struct<…>``) must tokenize to column names
only, and entries sharing (table_name, ingest_batch) aggregate together.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from adlspark import catalog as cat

_AT = datetime.datetime(2026, 1, 1)


def _entry(table, path, sig, batch="b1", status="STAGED"):
    return (table, path, 1, 1, 10, "h", sig, batch, 0, _AT, status)


ENTRIES = [
    _entry("orders", "/lake/staged/orders.parquet", "o_orderkey:bigint,o_totalprice:double"),
    _entry(
        "events",
        "/lake/staged/events_part.parquet",
        "event_id:bigint,props:map<string,string>,"
        "ctx:struct<user_id:bigint,tags:map<string,string>>,value:double",
    ),
    _entry(
        "nested",
        "/lake/raw/nested.json",
        "a:array<struct<x:int,y:map<string,array<string>>>>,user_id:bigint",
        status="FAILED",
    ),
    # two entries under one (table_name, ingest_batch): hits add up
    _entry("orders", "/lake/staged/orders_2.parquet", "o_orderkey:bigint,l_tax:double"),
    _entry("lineitem", "/lake/staged/lineitem.parquet", "l_tax:double", batch="b2"),
]

TERM_LISTS = [
    ["user_id", "o_totalprice", "l_tax", "no_such_column"],
    ["staged", "staged", "STAGED", "Orders"],  # duplicates + mixed case
    ["", "string", "bigint", "tags", "x", "y"],  # empty term, type words
    ["failed", "", "events_part", "parquet", "props", "ctx"],
    ["no_such_column"],
    [],
]


def _join_search(catalog, terms):
    """The explode + broadcast-join formula ``search_tokens`` used
    before it became join-free (same tokenizer)."""
    spark = catalog.sparkSession
    names = F.col("schema_sig")
    for _ in range(8):
        names = F.regexp_replace(names, "<[^<>]*>", "")
    names = F.regexp_replace(names, ":[^,]*", " ")
    text = F.lower(
        F.concat_ws(
            " ",
            F.col("table_name"),
            F.element_at(F.split(F.col("path"), "/"), -1),
            F.col("status"),
            names,
        )
    )
    tok = catalog.select(
        "table_name",
        "ingest_batch",
        F.explode(F.array_distinct(F.split(text, "[^a-z0-9_]+"))).alias("tok"),
    ).where(F.col("tok") != "")
    terms_df = spark.createDataFrame([(t.lower(),) for t in terms], "term string")
    return (
        tok.join(F.broadcast(terms_df), tok.tok == terms_df.term)
        .groupBy("table_name", "ingest_batch")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.concat_ws(" ", F.sort_array(F.collect_set("term"))).alias(
                "matched_terms"
            ),
        )
    )


@pytest.fixture(scope="module")
def catalog_df(spark):
    return cat.entries_df(spark, ENTRIES)


@pytest.mark.parametrize("terms", TERM_LISTS, ids=lambda t: "|".join(t) or "none")
def test_search_tokens_matches_join_formula(catalog_df, terms):
    got = cat.search_tokens(catalog_df, terms)
    want = _join_search(catalog_df, terms)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_search_tokens_semantics_pinned(catalog_df):
    """The cases the parity sweep covers, spelled out."""
    got = {
        (r.table_name, r.ingest_batch): (r.n_hits, r.matched_terms)
        for r in cat.search_tokens(
            catalog_df, ["staged", "Staged", "", "user_id", "tags", "no_such_column"]
        ).collect()
    }
    assert got == {
        # two entries, each hit by 'staged' listed twice (case folded)
        ("orders", "b1"): (4, "staged"),
        ("lineitem", "b2"): (2, "staged"),
        # user_id/tags sit inside struct/map types: never column names
        ("events", "b1"): (2, "staged"),
        ("nested", "b1"): (1, "user_id"),
    }
