"""line_boilerplate + bigram_lm_scores: properties past the DuckDB oracle.

Both operators' full output tables are value-hash-oracled through the
driver contract (__spark_entry__ `line_boilerplate` / `lm_quality`);
this file pins semantics on planted inputs: closed-form document-
frequency thresholds, normalization of the line key vs preservation of
the emitted line, intra-document repetition NOT counting toward the
cross-document flag, exact bigram-LM probabilities on a hand-computed
corpus, and one-row-per-doc totality over NULL/empty/short documents.
"""

from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.corpus import (
    bigram_lm_scores,
    line_boilerplate,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# line_boilerplate
# ---------------------------------------------------------------------------


def test_boilerplate_df_threshold(spark):
    shared = "copyright acme corp"
    d = _df(spark, [
        (1, f"unique first line\n{shared}\nanother unique"),
        (2, f"{shared}\nsecond doc body"),
        (3, f"third doc body\n{shared}"),
        (4, "no boilerplate here\nat all"),
    ])
    out = {r["doc_id"]: r for r in line_boilerplate(d, min_docs=3).collect()}
    assert len(out) == 4
    assert out[1]["text"] == "unique first line\nanother unique"
    assert out[1]["n_lines"] == 3 and out[1]["n_boilerplate_lines"] == 1
    assert out[2]["text"] == "second doc body"
    assert out[3]["text"] == "third doc body"
    assert out[4]["text"] == "no boilerplate here\nat all"
    assert out[4]["n_boilerplate_lines"] == 0
    assert out[4]["boilerplate_char_fraction"] == 0.0
    # char fraction is over non-empty-line character mass
    mass = len("unique first line") + len(shared) + len("another unique")
    assert out[1]["boilerplate_char_fraction"] == round(len(shared) / mass, 6)


def test_boilerplate_key_normalized_but_line_preserved(spark):
    # df-counting key is lowercase + collapsed whitespace; the EMITTED
    # line keeps its original casing/spacing (trimmed)
    d = _df(spark, [
        (1, "Copyright  ACME   Corp\nbody one"),
        (2, "copyright acme corp\nbody two"),
        (3, "  COPYRIGHT ACME CORP \nbody three"),
    ])
    out = {r["doc_id"]: r for r in line_boilerplate(d, min_docs=3).collect()}
    assert all(out[i]["n_boilerplate_lines"] == 1 for i in (1, 2, 3))
    assert out[1]["text"] == "body one"
    assert out[2]["text"] == "body two"


def test_intra_doc_repetition_is_not_boilerplate(spark):
    # one doc repeating a line 5x: document frequency is 1, so the
    # cross-document threshold must NOT fire (that signal belongs to
    # repetition_stats)
    d = _df(spark, [
        (1, "\n".join(["same line again"] * 5)),
        (2, "unrelated content"),
    ])
    out = {r["doc_id"]: r for r in line_boilerplate(d, min_docs=2).collect()}
    assert out[1]["n_boilerplate_lines"] == 0
    assert out[1]["text"] == "\n".join(["same line again"] * 5)


def test_boilerplate_totality_and_degenerate_docs(spark):
    shared = "shared footer line"
    d = _df(spark, [
        (1, None),
        (2, ""),
        (3, "   \n  \n"),
        (4, shared),                    # doc that is ALL boilerplate
        (5, shared),
        (6, f"kept\n{shared}"),
    ])
    out = {r["doc_id"]: r for r in line_boilerplate(d, min_docs=3).collect()}
    assert len(out) == 6
    for i in (1, 2, 3):
        assert out[i]["text"] == "" and out[i]["n_lines"] == 0
        assert out[i]["boilerplate_char_fraction"] == 0.0
    assert out[4]["text"] == "" and out[4]["n_boilerplate_lines"] == 1
    assert out[4]["boilerplate_char_fraction"] == 1.0
    assert out[6]["text"] == "kept"


# ---------------------------------------------------------------------------
# bigram_lm_scores
# ---------------------------------------------------------------------------


def test_lm_closed_form(spark):
    # corpus bigrams: ab x2, bc x1, bd x1 -> c1: a=2, b=2
    # p(b|a)=1.0, p(c|b)=0.5, p(d|b)=0.5
    d = _df(spark, [(1, "a b c"), (2, "a b d")])
    out = {r["doc_id"]: r for r in bigram_lm_scores(d).collect()}
    for i in (1, 2):
        assert out[i]["n_tokens"] == 3 and out[i]["n_bigrams"] == 2
        assert out[i]["n_hapax_bigrams"] == 1
        assert out[i]["hapax_rate"] == 0.5
        assert out[i]["mean_bigram_prob"] == 0.75


def test_lm_occurrence_weighting(spark):
    # "x y x y": (x,y) twice, (y,x) once; c12: xy=2, yx=1; c1: x=2, y=1
    # p(xy)=1.0, p(yx)=1.0 -> weighted mean 1.0; hapax = the single yx
    d = _df(spark, [(1, "x y x y")])
    r = bigram_lm_scores(d).collect()[0]
    assert r["n_tokens"] == 4 and r["n_bigrams"] == 3
    assert r["n_hapax_bigrams"] == 1
    assert r["hapax_rate"] == round(1 / 3, 6)
    assert r["mean_bigram_prob"] == 1.0


def test_lm_totality_and_degenerate_docs(spark):
    d = _df(spark, [(1, None), (2, ""), (3, "solo"), (4, "a a")])
    out = {r["doc_id"]: r for r in bigram_lm_scores(d).collect()}
    assert len(out) == 4
    for i in (1, 2):
        assert out[i]["n_tokens"] == 0 and out[i]["n_bigrams"] == 0
        assert out[i]["mean_bigram_prob"] == 0.0
    assert out[3]["n_tokens"] == 1 and out[3]["n_bigrams"] == 0
    # "a a": one bigram, corpus count 1 -> hapax, p = 1/1
    assert out[4]["n_bigrams"] == 1 and out[4]["n_hapax_bigrams"] == 1
    assert out[4]["mean_bigram_prob"] == 1.0


def test_lm_mean_is_ordered_fold_independent_of_layout(spark):
    # mean_bigram_prob = round6(sum of occ * c12/c1 over the doc's
    # distinct bigrams, added in ascending order from 0.0, / n_bigrams):
    # the Python fold below is that exact IEEE sequence, and Spark's
    # round(double, 6) is HALF_UP on the double's shortest repr.  Two
    # partition layouts of the same corpus must give the same bits.
    import random
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(9)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 60))))
            for i in range(40)]
    occ = {i: Counter(zip(t.split(), t.split()[1:])) for i, t in rows}
    c12 = Counter()
    for bg in occ.values():
        c12.update(bg)
    c1 = Counter()
    for (w1, _), n in c12.items():
        c1[w1] += n
    want = {}
    for i, bg in occ.items():
        acc = 0.0
        for x in sorted(n * (c12[b] / c1[b[0]]) for b, n in bg.items()):
            acc += x
        mean = acc / sum(bg.values())
        want[i] = float(Decimal(repr(mean)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    d = _df(spark, rows)
    layouts = [d.coalesce(1), d.repartition(7, F.col("doc_id") % 3)]
    for df in layouts:
        got = {r["doc_id"]: r["mean_bigram_prob"]
               for r in bigram_lm_scores(df).collect()}
        assert got == want
