"""The rules.py contract queries against their DuckDB oracles.

The extraction-rule, lookup, validation and corpus word-text queries
run rules.py through operators.extract.rules_udf, the mechanism
extract_turns, the entity extractors, the XML renderer and the corpus
operators are built on; each oracle
restates the rule in DuckDB SQL.  That makes this the one check of
rules.py by an independent implementation.  The compare is
tools/check_oracles.py's own, so a query passes here exactly when the
CLI prints [OK] for it.
"""

import pytest

import __spark_entry__ as entry
from tools.check_oracles import check_query, duckdb_views

RULE_QUERIES = [
    "clean_extract", "confidence", "layout_hints", "boundary_flags",
    "extract_date", "section_headers", "section_spans", "uncertain_tokens",
    "mark_unclear", "vitals_extract", "allergies_plan", "data_quality",
    # lookup and validation rules: names, codes, variants, warnings
    "parse_names", "contains_code_lookup", "variant_lookup",
    "schema_warnings", "ccd_xml_entities",
    # corpus word text: shingles, n-gram counts, quality signals, tokens
    "quality_scores", "token_counts", "decontaminate", "corpus_curation",
    "top_ngrams", "salient_terms", "ngram_jaccard",
]


@pytest.fixture(scope="module")
def duckdb_con(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", RULE_QUERIES)
def test_rule_query_matches_oracle(spark, sf_dir, duckdb_con, name):
    n, failure = check_query(spark, duckdb_con, entry.queries()[name],
                             sf_dir, entry.oracle_sql()[name])
    assert failure is None, failure[:1000]
    assert n > 0
