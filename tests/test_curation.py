"""curate_corpus: properties past the DuckDB oracle.

The composed pipeline's full decision table is value-hash-oracled
through the driver contract (`corpus_curation`); this file pins the
composition semantics: signal parity with the standalone operators
(all three run rules.quality_signals / rules.ws_tokens — these tests
keep it that way), the signals UDF on hand-checked edge rows and
against direct rules.quality_signals calls, the first-failing-rule
priority order, the duplicate-group survivor invariant, decontamination
wiring, and totality.
"""

from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.corpus import (
    curate_corpus,
    quality_scores,
    redact_pii,
    signals_udf,
    token_counts,
)

GOOD = ("the committee and the board reviewed the plan with care and "
        "agreed that the work is of value to the members " * 3)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_curation_matches_standalone_ops(spark):
    d = _docs(spark, [
        (1, "s1", GOOD + " mail me a@b.io or 555-123-4567"),
        (2, "s1", "short"),
        (3, "s2", GOOD),
    ])
    out = {r["doc_id"]: r for r in curate_corpus(d).collect()}
    red = redact_pii(d)
    toks = {r["doc_id"]: r for r in token_counts(red).collect()}
    quals = {r["doc_id"]: r
             for r in quality_scores(red, round_to=None).collect()}
    piis = {r["doc_id"]: r for r in red.collect()}
    for i in (1, 2, 3):
        assert out[i]["n_tokens"] == toks[i]["ws_tokens"]
        assert out[i]["quality_score"] == quals[i]["quality_score"]
        assert out[i]["has_pii"] == piis[i]["has_pii"]


def test_first_failing_rule_priority(spark):
    dup = GOOD + " unique tail zq"
    d = _docs(spark, [
        (1, "s1", "tiny"),                     # too_short
        (2, "s1", "x " * 300),                 # low_quality (degenerate)
        (3, "s1", dup),                        # kept canonical
        (4, "s1", dup),                        # duplicate of 3
        (5, "s1", GOOD + " other tail aa"),    # kept
        (6, "s1", None),                       # too_short (0 tokens)
    ])
    out = {r["doc_id"]: r for r in
           curate_corpus(d, min_tokens=5, min_quality=0.5).collect()}
    assert out[1]["drop_reason"] == "too_short" and not out[1]["keep"]
    assert out[2]["drop_reason"] == "low_quality"
    assert out[3]["keep"] and out[3]["drop_reason"] == ""
    assert out[4]["drop_reason"] == "duplicate"
    assert out[4]["canonical_id"] == 3
    assert out[5]["keep"]
    assert out[6]["drop_reason"] == "too_short"
    for r in out.values():
        assert r["keep"] == (r["drop_reason"] == "")


def test_duplicate_group_one_survivor_invariant(spark):
    # every signal is a pure function of the redacted text, so a
    # duplicate group either fails together on an earlier rule or
    # keeps exactly its canonical member
    d = _docs(spark, [(i, "s1", GOOD) for i in range(10, 15)]
              + [(j, "s1", "zz qq zz qq") for j in (20, 21)])
    out = curate_corpus(d, min_tokens=3, min_quality=0.5).collect()
    good = [r for r in out if r["canonical_id"] == 10]
    assert len(good) == 5
    assert sorted(r["doc_id"] for r in good if r["keep"]) == [10]
    assert all(r["drop_reason"] == "duplicate"
               for r in good if r["doc_id"] != 10)
    junk = [r for r in out if r["canonical_id"] == 20]
    # whole group fails the same earlier rule; none read 'duplicate'
    assert len(junk) == 2
    assert all(r["drop_reason"] == "low_quality" for r in junk)


def test_whitespace_twins_straddling_punct_cut_are_not_duplicates(spark):
    # the two texts differ only in whitespace, so they normalize alike,
    # but punct_ratio = 120 punct / n_chars straddles the 0.2 cut:
    # 120/539 with single spaces (factor 0.5), 120/658 with double
    # spaces (factor 1.0).  The duplicate digest keys on the same text
    # the signals score, so the failing twin cannot take the passing
    # one down with it as 'duplicate'.
    single = " ".join(["the", "wo!!"] * 60)
    double = "  ".join(["the", "wo!!"] * 60)
    d = _docs(spark, [(1, "s1", single), (2, "s1", double)])
    out = {r["doc_id"]: r for r in
           curate_corpus(d, min_tokens=5, min_quality=0.6).collect()}
    assert out[1]["quality_score"] == 0.5
    assert out[2]["quality_score"] == 1.0
    assert out[1]["drop_reason"] == "low_quality"
    assert out[2]["keep"] and out[2]["drop_reason"] == ""
    assert [out[i]["canonical_id"] for i in (1, 2)] == [1, 2]


def test_decontamination_wiring_and_reason_order(spark):
    # doc 2 is an exact dup of doc 1 AND contaminated; contamination
    # outranks duplicate in the priority chain
    evals = spark.createDataFrame(
        [(900, GOOD)], "doc_id long, text string")
    d = _docs(spark, [
        (1, "s1", GOOD),
        (2, "s1", GOOD),
        (3, "s1", "the committee of nobody shares any grams here with "
                  "them and this text stays long enough to pass the "
                  "filters of the pipeline easily " * 2),
    ])
    out = {r["doc_id"]: r for r in
           curate_corpus(d, evals, shingle_n=4, min_quality=0.2).collect()}
    assert out[1]["contaminated"] and out[1]["drop_reason"] == "contaminated"
    assert out[2]["contaminated"] and out[2]["drop_reason"] == "contaminated"
    assert not out[3]["contaminated"] and out[3]["keep"]


def test_signal_udf_edge_rows(spark):
    # rules.quality_signals through the Spark UDF on edge cases: null,
    # empty, whitespace-only, one word, long text, punct-heavy, unicode
    # NBSP/NEL (Python split() splits on them, the ASCII word class
    # does not), mixed case, stopword-free, every ASCII-\s separator.
    # Expected score = min(1, n_words/100) x word-length factor x
    # punct factor x stopword factor, worked out by hand per row.
    rows = [
        # null and blank texts: one empty word (mean length 0), no
        # punctuation, no stopwords
        (1, None, 0, 0.01 * 0.5 * 1.0 * 0.8),
        (2, "", 0, 0.01 * 0.5 * 1.0 * 0.8),
        (3, "   \n\t  ", 0, 0.01 * 0.5 * 1.0 * 0.8),
        # one 3-letter word
        (4, "one", 1, 0.01 * 1.0 * 1.0 * 0.8),
        # 300 one-letter words, 30 of them "a" (stopword ratio 0.1)
        (5, "a b c d e f g h i j " * 30, 300, 1.0 * 0.5 * 1.0 * 1.0),
        # 6 three-char words, punct 18/23
        (6, "!!! ??? ... ;;; ::: @@@", 6, 0.06 * 1.0 * 0.5 * 0.8),
        # 5 tokens but 3 words (NBSP/NEL join words), mean 21/3,
        # punct 2/23 (NBSP and NEL are neither ASCII \w nor \s)
        (7, "the nbsp\xa0stays\x85nel here", 5, 0.03 * 1.0 * 1.0 * 1.0),
        # 8 words, 4 stopwords, mean 30/8
        (8, "mixed CASE Text with the and of words", 8,
         0.08 * 1.0 * 1.0 * 1.0),
        # 8 two-letter words
        (9, "zz qq ww ee rr tt yy uu", 8, 0.08 * 0.5 * 1.0 * 0.8),
        # 7 words split by \t \n \x0b \f \r and a space, mean 24/7
        (10, "tab\tsep\nnewline\x0bvtab\fff\rcr end", 7,
         0.07 * 1.0 * 1.0 * 0.8),
    ]
    d = spark.createDataFrame([r[:2] for r in rows], "doc_id long, text string")
    sc = signals_udf()(F.col("text"))
    got = {r["doc_id"]: r for r in d.select(
        "doc_id", sc["n_tokens"].alias("nt"), sc["quality_score"].alias("q")
    ).collect()}
    for i, _, n_tokens, score in rows:
        assert got[i]["nt"] == n_tokens, i
        assert got[i]["q"] == score, i


def test_signal_udf_property_parity(spark):
    # hypothesis fuzz over the PY_WS/unicode surface (the
    # test_property_parity idiom: batch per example so shrinking still
    # isolates one string): the Spark UDF returns exactly what a direct
    # rules.quality_signals call returns, row by row
    import string

    from hypothesis import HealthCheck, given, settings, strategies as st

    raw = st.text(
        alphabet=string.ascii_letters + string.digits + string.punctuation
        + " \t\n\r\x0b\x0c\x1c\x85\xa0" + "éñ±"
        # case-mapping edge codepoints (Python str.lower vs Spark lower):
        # final sigma, Turkish dotted/dotless i, capital sharp s, a
        # titlecase digraph
        + "Σσς" + "İı" + "ẞß" + "ǅ",
        max_size=60,
    )

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(raw, min_size=12, max_size=12))
    def check(texts):
        d = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        got = {r["doc_id"]: r["sc"].asDict() for r in d.select(
            "doc_id", signals_udf()(F.col("text")).alias("sc")).collect()}
        for i, t in enumerate(texts):
            assert got[i] == rules.quality_signals(t), (i, repr(t))

    check()


def test_split_is_source_consistent(spark):
    d = _docs(spark, [(i, f"src{i % 4}", GOOD + f" tail {i}")
                      for i in range(40)])
    out = curate_corpus(d).collect()
    assert len(out) == 40
    per_source = {}
    for r in out:
        per_source.setdefault(r["source"], set()).add(r["split"])
        assert r["split"] in ("train", "val", "test")
    # leakage defense: one split per source
    assert all(len(s) == 1 for s in per_source.values())
