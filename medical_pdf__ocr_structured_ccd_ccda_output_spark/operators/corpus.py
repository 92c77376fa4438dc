"""Training-data corpus operators over the `documents` table
(doc_id, text, lang, source, n_chars).

These are the large-scale pipeline primitives beyond the reference's
own operator set: deduplication (exact / minhash-LSH / simhash /
n-gram-Jaccard), text quality scoring, language id, token counting and
document fingerprinting.  Hot paths are JVM expressions; the word-text
rules (shingles, n-gram counts, quality signals) are ``rules.py``
functions run per Arrow batch through ``extract.rules_udf``, the one
implementation the DuckDB oracles check.

Scale notes per operator are in each docstring — the common theme:
candidate generation via hash buckets (band join / min-shingle join)
so the pairwise work is O(candidates), never O(n²) on the corpus.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window, functions as F, types as T

from .. import rules
from .extract import rules_udf

# ---------------------------------------------------------------------------
# normalization + shingles
# ---------------------------------------------------------------------------

def norm_text(col):
    """Null-safe lowercase + ASCII-whitespace collapse + space trim —
    the JVM form of ``rules.norm_words`` (joined by spaces) for the
    JVM-only operators (NULL text == '' so every doc emits a row from
    every operator)."""
    return F.trim(
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " ")
    )


def shingles_udf(n: int):
    """text -> array<string>: ``rules.shingles(text, n)``."""
    return rules_udf(partial(rules.shingles, n=n), T.ArrayType(T.StringType()))


def gram_counts_udf(n: int):
    """text -> map<string,long>: ``rules.gram_counts(text, n)``."""
    return rules_udf(partial(rules.gram_counts, n=n),
                     T.MapType(T.StringType(), T.LongType()))


# ---------------------------------------------------------------------------
# 1. exact dedup — hash-groupBy (one shuffle on the digest)
# ---------------------------------------------------------------------------

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group by md5 of normalized text; keep the smallest doc_id as the
    canonical representative.  Output one row per distinct content with
    its duplicate count.  At 100 TB: shuffle keys are 128-bit digests —
    uniformly distributed, no skew; map-side combine shrinks the shuffle
    to ~1 row per distinct digest per task."""
    return (
        documents
        .withColumn("content_key", F.md5(norm_text(F.col("text"))))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# 2. minhash + LSH banding (shingle -> minhash -> band -> bucket join)
# ---------------------------------------------------------------------------

_MAX_LONG = (1 << 63) - 1


def minhash_signatures(documents: DataFrame, num_hashes: int = 32,
                       shingle_n: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """k independent min-hashes per doc: explode distinct shingles to
    rows, then k codegen'd min-aggregates assembled into the signature
    array.

    Why explode + groupBy and not an array fold (aggregate/zip_with):
    higher-order-function lambdas are evaluated interpreted (outside
    whole-stage codegen); the fold form measured 13 s at sf0.1 vs ~1 s
    for this shape.  (An earlier k×array_min(transform) form was far
    worse still — Catalyst inlined the shingle expression into every
    component, re-shingling the text ~256× per row: 231 s.)  The
    groupBy shuffles (doc_id, 32 longs) AFTER map-side partial min —
    at 100 TB the shuffle volume is one row per (doc × task), key
    distribution uniform on doc_id, no skew.  Shingles are
    ``rules.shingles`` run per Arrow batch (``shingles_udf``)."""
    sh = shingles_udf(shingle_n)(F.col("text"))
    exploded = documents.select("doc_id", F.explode(sh).alias("shingle"))
    if hash_fn == "md5":
        # Lexicographic min over hex digests — engine-portable (DuckDB
        # has md5 but not xxhash64); same algorithm, different family.
        component = lambda i: F.md5(  # noqa: E731
            F.concat_ws("|", F.lit(str(i)), F.col("shingle")))
    else:
        component = lambda i: F.xxhash64(F.lit(i), F.col("shingle"))  # noqa: E731
    mins = exploded.groupBy("doc_id").agg(*[
        F.min(component(i)).alias(f"_h{i}") for i in range(num_hashes)
    ])
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def banded_signatures(sigs: DataFrame, num_hashes: int, bands: int,
                      hash_fn: str) -> DataFrame:
    """LSH band table ``(doc_id, signature, band, bucket)`` — one row
    per (doc, band), bucket key = hash-of-band-slice.  Shared by the
    batch self-join (``_banded_candidates``) and the incremental path
    (``corpus_incremental``), which joins a small new-batch band table
    against a huge corpus band table on the same uniform keys."""
    if num_hashes % bands != 0:
        # trailing components would be silently excluded from every
        # band, quietly weakening the collision probability the
        # (bands, rows) parameters promise
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); {num_hashes % bands} trailing signature "
            f"components would never be banded"
        )
    rows_per_band = num_hashes // bands
    band_key = F.md5 if hash_fn == "md5" else F.xxhash64

    def _bucket(b: int):
        return band_key(
            F.array_join(
                F.transform(
                    F.slice("signature", b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        )

    return sigs.select(
        "doc_id", "signature",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", "signature", "bb.band", "bb.bucket")


def est_jaccard_expr(sig_a, sig_b, num_hashes: int):
    """Estimated Jaccard = fraction of matching minhash components."""
    return (
        F.size(
            F.filter(
                F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / num_hashes
    )


def _banded_candidates(sigs: DataFrame, num_hashes: int, bands: int,
                       hash_fn: str) -> DataFrame:
    """Distinct candidate pairs ``(doc_a, doc_b)`` from LSH banding of
    minhash signatures: bucket key = (band_id, hash-of-band-slice), the
    self-join is an equi-join on uniformly distributed keys.

    The band table entering the self-join is NARROW — (doc_id, band,
    bucket) only.  Carrying the signature array through the band
    explode and both join sides multiplies it ``2 × bands`` times
    through the shuffle (measured at the ×320 probe: ~7.5 GB of the
    dedup DAG's 4.8 GB-per-side shuffle volume, and the LSH stage was
    its slowest phase at 37 s/32-core).  Consumers that need the
    signatures (the est-Jaccard filter) join them back AFTER the
    cross-band ``dropDuplicates`` — two equi-joins of the small
    candidate set against the signature table instead of an 8-way
    signature fan-out."""
    banded = banded_signatures(sigs, num_hashes, bands, hash_fn) \
        .select("doc_id", "band", "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_pairs_from_signatures(sigs: DataFrame, num_hashes: int = 32,
                              bands: int = 8,
                              jaccard_threshold: float = 0.7,
                              hash_fn: str = "xxhash64",
                              *, cache: str = "local") -> DataFrame:
    """LSH banding + estimated-Jaccard filter over PRECOMPUTED minhash
    signatures ``(doc_id, signature)``.  The staged corpus job
    (``corpus_job.py``) materializes signatures once per distinct
    content digest and feeds them here, so the expensive shingle +
    minhash scan is never repeated across pipeline stages or resumes.

    ``sigs`` has three consumers (the narrow band table plus the two
    est-Jaccard join-backs), so by default it is lazily
    localCheckpoint-ed: no job runs at construction, the first
    consumer materializes the blocks, and the block-manager's
    per-partition locking guarantees the upstream (often a full
    shingle+minhash scan) computes at most once.

    ``cache`` controls that materialization — a localCheckpoint
    truncates lineage into non-recomputable blocks, so on a real
    cluster a single executor loss fails the job instead of
    recomputing, and an already-materialized input is duplicated into
    the block store:

    * ``"local"`` (default) — lazy ``localCheckpoint``; right for
      derived plans (in-process pipelines, the incremental path's
      batch signatures) where recomputation is the expensive scan.
    * ``"none"`` — no checkpoint; right when ``sigs`` is already a
      cheap re-readable scan (a parquet stage table, as in
      ``corpus_job.py`` stage 2): the three consumers each rescan,
      and fault recovery recomputes from storage as usual."""
    if cache == "local":
        sigs = sigs.localCheckpoint(eager=False)
    elif cache != "none":
        raise ValueError(f"cache must be local|none, got {cache!r}")
    cand = _banded_candidates(sigs, num_hashes, bands, hash_fn)
    est = est_jaccard_expr(F.col("sig_a"), F.col("sig_b"), num_hashes)
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("signature").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_lsh_pairs(documents: DataFrame, num_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3,
                      jaccard_threshold: float = 0.7,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs via LSH banding + exact-Jaccard verification.

    rows/band bucket join keys are (band_id, hash-of-band-slice) — the
    self-join is an equi-join Catalyst executes as a shuffled hash join
    on uniformly distributed keys.  Estimated Jaccard = fraction of
    matching minhash components; candidates below threshold are dropped
    before any pairwise text work."""
    sigs = minhash_signatures(documents, num_hashes, shingle_n, hash_fn)
    return lsh_pairs_from_signatures(
        sigs, num_hashes, bands, jaccard_threshold, hash_fn
    )


# ---------------------------------------------------------------------------
# 3. simhash (64-bit) + hamming near-dup
# ---------------------------------------------------------------------------

def simhash(documents: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit simhash over word tokens: per-bit weighted majority of
    token hashes.  Explode tokens to rows, 64 codegen'd conditional-sum
    aggregates (one per bit), then assemble the hash as the arithmetic
    sum of the winning bit masks (distinct powers of two — sum == OR,
    incl. the sign bit in two's complement).  Same rationale as
    minhash_signatures: array folds run interpreted; explode + groupBy
    stays in whole-stage codegen with map-side partial aggregation.

    hash_fn='md5' derives bit b from hex digit b//4 of the token's md5
    (within-nibble position 3 - b%4) — engine-portable for the DuckDB
    oracle; same algorithm, different hash family."""
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    words = F.split(norm_text(F.col("text")), " ")
    if hash_fn == "md5":
        ex = documents.select("doc_id", F.explode(words).alias("_w")).select(
            "doc_id", F.md5(F.col("_w")).alias("_m")
        )

        def _vote(b: int):
            nib = F.conv(F.substring(F.col("_m"), 1 + b // 4, 1), 16, 10).cast("int")
            bit = F.shiftright(nib, 3 - b % 4).bitwiseAND(F.lit(1))
            return F.sum(F.when(bit == 1, 1).otherwise(-1))

        votes = ex.groupBy("doc_id").agg(*[
            _vote(b).alias(f"_v{b}") for b in range(64)
        ])
    else:
        ex = documents.select("doc_id", F.explode(words).alias("_w")).select(
            "doc_id", F.xxhash64(F.col("_w")).alias("_h")
        )
        votes = ex.groupBy("doc_id").agg(*[
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(m).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b, m in enumerate(masks)
        ])
    sim = None
    for b, m in enumerate(masks):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(m).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else (sim + term)
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= k.  Candidate
    generation: split the 64-bit hash into (k+1) blocks — any pair
    within hamming<=k shares at least one exact block (pigeonhole), so
    the self-join is equi on (block_id, block_value)."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sh = simhash(documents, hash_fn)

    def _block(i: int):
        # last block absorbs the remainder bits; at w == 64 (exact-match
        # mode, max_hamming=0) the mask would overflow a Java long —
        # the block is the whole hash, no AND needed
        w = width if i < n_blocks - 1 else 64 - width * (n_blocks - 1)
        if w == 64:
            val = F.col("simhash")
        else:
            val = F.shiftrightunsigned("simhash", i * width) \
                .bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        return F.struct(F.lit(i).alias("blk"), val.alias("val"))

    blocks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[_block(i) for i in range(n_blocks)])).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.val")
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard verification (exact, on candidate pairs only)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(documents: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.8,
                        round_to: int | None = 6,
                        candidate: str = "min_shingle",
                        num_hashes: int = 16, bands: int = 8,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """Exact Jaccard near-dups over distinct word shingles, with two
    candidate-generation tiers:

    * candidate='min_shingle' (default, fully SQL-expressible — the
      DuckDB-oracled tier): docs sharing their minimum shingle hash are
      candidates (LSH with one hash).  Caveat at 100 TB: a globally
      common minimum shingle becomes one hot join key.
    * candidate='banded' (the production/scale tier): minhash band
      buckets generate candidates — bucket keys are uniformly
      distributed, so no single shingle can concentrate the join.
      Verification stays the same exact set-Jaccard.
    """
    jac = (
        F.size(F.array_intersect("a.shingles", "b.shingles")).cast("double")
        / F.size(F.array_union("a.shingles", "b.shingles"))
    )
    out_jac = F.round(jac, round_to) if round_to is not None else jac
    if candidate not in ("banded", "min_shingle"):
        raise ValueError(f"unknown candidate tier: {candidate}")
    # rules.shingles per Arrow batch; the self-join evaluates its input
    # plan on both sides, so the shingler's cost counts twice
    sh = documents.select(
        "doc_id",
        F.array_sort(shingles_udf(shingle_n)(F.col("text"))).alias("shingles"),
    )
    if candidate == "banded":
        sigs = minhash_signatures(documents, num_hashes, shingle_n, hash_fn)
        cand = _banded_candidates(sigs, num_hashes, bands, hash_fn)
        pairs = (
            cand.join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
            .join(sh.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        )
        return (
            pairs.select("doc_a", "doc_b", out_jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # the md5 min-shingle key is a JVM expression over the shingle array
    keyed = sh.select(
        "doc_id", "shingles",
        F.array_min(F.transform(F.col("shingles"), lambda s: F.md5(s)))
        .alias("min_shingle"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.min_shingle") == F.col("b.min_shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            out_jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# 5. text quality scoring
# ---------------------------------------------------------------------------

# the fields of rules.quality_signals, in order
SIGNALS = T.StructType([
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("n_words", T.IntegerType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("stopword_ratio", T.DoubleType()),
    T.StructField("punct_ratio", T.DoubleType()),
    T.StructField("mean_word_len", T.DoubleType()),
    T.StructField("quality_score", T.DoubleType()),
])


def signals_udf():
    """text -> struct SIGNALS: ``rules.quality_signals(text)``."""
    return rules_udf(rules.quality_signals, SIGNALS)


def quality_scores(documents: DataFrame, round_to: int | None = 6) -> DataFrame:
    """Length / punctuation / stopword / word-length heuristics plus a
    composite [0,1] score (``rules.quality_signals``).  round_to=None
    emits raw doubles (bit-identical across engines since every ratio
    is an int/int division in a fixed op order)."""
    def _r(f):
        c = F.col(f"_sc.{f}")
        return (F.round(c, round_to) if round_to is not None else c).alias(f)

    return documents.select(
        "doc_id", signals_udf()(F.col("text")).alias("_sc")
    ).select(
        "doc_id", "_sc.n_chars", "_sc.n_words",
        *[_r(f) for f in ("stopword_ratio", "punct_ratio", "mean_word_len",
                          "quality_score")],
    )


# ---------------------------------------------------------------------------
# 6. language id (marker-word heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "los", "las", "que", "de"],
    "de": ["der", "die", "das", "und", "nicht"],
    "fr": ["le", "les", "des", "une", "est"],
}


def language_id(documents: DataFrame) -> DataFrame:
    """Deterministic marker-word scoring; argmax language with ties
    broken by language code order, 'und' when no marker hits."""
    words = F.split(norm_text(F.col("text")), " ")
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(words, lambda w: F.array_contains(markers, w))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # argmax by hits, tie -> lexicographically LAST lang wins under max;
    # invert lang order trick not needed — define spec as max(hits, lang).
    best = F.array_max(F.array(*scores))
    return documents.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_guess"),
        best["hits"].alias("marker_hits"),
    )


# ---------------------------------------------------------------------------
# 7. token counting
# ---------------------------------------------------------------------------

# \x0b listed explicitly: the DuckDB oracle interpolates this pattern
# verbatim and RE2's \s lacks vertical tab (Java's includes it)
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s\x0b]"


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace tokens (``rules.ws_tokens``, Python len(text.split())
    semantics) + BPE-ish regex tokens (letters / digits / single
    punctuation, a JVM projection)."""
    text = F.coalesce(F.col("text"), F.lit(""))
    bpe = F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))
    return documents.select(
        "doc_id",
        rules_udf(rules.ws_tokens, T.IntegerType())(F.col("text"))
        .alias("ws_tokens"),
        bpe.cast("int").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# 8. document fingerprinting (winnowing over a rolling hash)
# ---------------------------------------------------------------------------

def fingerprints(documents: DataFrame, k: int = 5, window: int = 4,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Winnowing fingerprints: hash every k-gram of words, take the min
    hash of each sliding window of `window` consecutive k-gram hashes,
    distinct.  All array ops — no explode until the final fingerprint
    set (kept as an array column).  hash_fn='md5' uses lexicographic
    hex-digest ordering (engine-portable for the DuckDB oracle)."""
    gram_hash = F.md5 if hash_fn == "md5" else F.xxhash64
    # POSITIONAL k-gram sequence — neither distinct nor sorted (round-3
    # review fix): winnowing's windows are windows over the document's
    # hash SEQUENCE.  Sorting first degenerates the whole scheme into
    # "all hashes but the window-1 largest" (no size reduction), and
    # dedup collapses repeated grams that should anchor separate
    # windows.
    #
    # The sliding windows are built in STAGED selects so each lambda
    # body only touches bound COLUMNS, never a computed expression:
    # higher-order functions are CodegenFallback and re-evaluate any
    # non-lambda-variable subtree once PER ELEMENT, so a single inline
    # expression (slice(hashes, i, w) with `hashes` itself a
    # transform(...md5...)) rebuilds the full n-gram hash array for
    # every one of the n windows — O(n^2) md5 calls per document
    # (measured 22.8 s for 500 docs at sf0.01; staged: <1 s).  The
    # intermediate aliases are each referenced several times in the
    # next stage, which is exactly the condition under which
    # CollapseProject keeps them materialized per row instead of
    # inlining them back into the lambda.
    words = documents.select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("_words")
    )
    w = F.col("_words")
    nw = F.size(w) - (k - 1)
    grams = F.when(
        nw > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nw, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(w, " ")))
    # gram_hash maps over the lambda variable only, so grams may be
    # inlined here as transform's array argument (evaluated once per
    # row) without reintroducing the per-element blowup
    hashed = words.select(
        "doc_id", F.transform(grams, lambda g: gram_hash(g)).alias("_hashes")
    )
    h = F.col("_hashes")
    m = F.size(h) - (window - 1)
    wins = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
            lambda i: F.array_min(F.slice(h, i, window)),
        ),
    ).otherwise(F.array(F.array_min(h)))
    return hashed.select(
        "doc_id", F.array_sort(F.array_distinct(wins)).alias("fingerprints")
    )


def corpus_profile(documents: DataFrame, text: str = "text",
                   group: str = "source") -> DataFrame:
    """Per-group corpus profiling rollup: the health dashboard a 100 TB
    training-data pipeline recomputes continuously — document counts,
    EXACT and HLL-approximate distinct-content counts, and length
    statistics (sum / min / max / interpolated median) per corpus slice.

    The reference surfaces this as per-run summary stats (DataQuality
    rollups, audit-report totals); at corpus scale the rollup becomes
    a per-source table so drift (a source suddenly duplicating or
    emitting short docs) is visible per slice.

    100 TB notes:

    * one logical aggregation keyed on `group`: Spark plans the
      count(DISTINCT key) via expand + two-phase aggregate, and every
      other metric rides the same shuffle with map-side partials.
    * `approx_distinct_contents` is an HLL++ sketch (rsd 2.5%) — at
      100 TB it is the column you read instead of the exact one
      (sketches merge in the partial aggregate, so the shuffle carries
      one ~1.5 kB sketch per group instead of every distinct key).
      The exact column is kept because this engine's gate demands
      bit-stable answers; the pytest pins the sketch within tolerance
      of the exact count.
    * median is the interpolated (a+b)/2 on the exact sorted lengths —
      bit-equal across engines for integer inputs (both interpolate in
      doubles from the same two order statistics).
    """
    length = F.length(F.col(text)).cast("long")
    key = F.md5(norm_text(F.col(text)))
    return (
        documents
        .select(F.col(group), length.alias("_len"), key.alias("_key"))
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_key").alias("n_distinct_contents"),
            F.approx_count_distinct("_key", 0.025)
            .alias("approx_distinct_contents"),
            F.sum("_len").alias("total_chars"),
            F.min("_len").alias("min_chars"),
            F.max("_len").alias("max_chars"),
            F.median("_len").alias("median_chars"),
        )
    )


def _hash_bucket(salt: str, *cols) -> F.Column:
    """Deterministic bucket in [0, 1e6): 15 hex chars of md5(salt:key)
    as an integer, mod 1e6.  A pure function of (salt, key) — stable
    across runs, partitionings, Spark versions and engines (the DuckDB
    oracle reproduces it bit-for-bit), which is what makes splits and
    samples reproducible and auditable at 100 TB; RNG-based sampling
    (rand(), sampleBy) changes membership whenever the partitioning or
    seed plumbing changes."""
    s = F.concat_ws(":", F.lit(salt), *[c.cast("string") for c in cols])
    return (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
            % 1_000_000)


def hash_split(documents: DataFrame, key: str = "source",
               salt: str = "split-v1",
               weights=(("train", 0.98), ("val", 0.01), ("test", 0.01)),
               ) -> DataFrame:
    """Leakage-free deterministic train/val/test assignment.

    Splitting on `key` = source (not doc_id) is the leakage defense:
    every document of a source lands in the SAME split, so near-
    duplicates within a source (boilerplate families, crawl revisits)
    can never straddle train and eval.  Pure projection — zero
    shuffle; the split column is computable at scan time anywhere in
    the pipeline, and re-running with the same salt reproduces the
    exact membership (change the salt to draw a fresh split).
    """
    bucket = _hash_bucket(salt, F.col(key))
    acc, expr = 0.0, None
    for name, w in weights[:-1]:
        acc += w
        cond = bucket < int(acc * 1_000_000)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(weights[0][0]) if expr is None
            else expr.otherwise(weights[-1][0]))
    return documents.withColumn("split", expr)


def pack_manifest(documents: DataFrame, capacity: int = 2048,
                  group: str = "source") -> DataFrame:
    """Concat-and-chunk packing manifest: map each document to its
    place in fixed-capacity training context windows.

    Pretraining packs a corpus by concatenating documents into one
    token stream and slicing it into `capacity`-token bins; the
    manifest is the (doc -> stream position -> bin span) table that
    makes the pack reproducible and auditable without materializing
    the stream.  Per (group, doc_id) order: ``stream_offset`` is the
    exclusive prefix sum of BPE-ish token counts within the group,
    ``first_bin``/``last_bin`` the bins the document's tokens straddle
    (empty documents occupy their offset's bin with zero tokens).

    100 TB notes: one shuffle, keyed on `group` (the per-source stream
    is the unit of packing — sources are many and hash-uniform).  The
    prefix sum is a single window; for a pathologically hot group the
    same two-level bucketed shape as assign_visits_skew_aware applies.
    Bin ids use integer division on BIGINT token offsets — exact, and
    bit-identical in the DuckDB oracle.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    ntok = F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("long")
    w = (Window.partitionBy(group).orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    df = documents.select(F.col(group), F.col("doc_id"), ntok.alias("n_tokens"))
    df = df.withColumn(
        "stream_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return df.select(
        group, "doc_id", "n_tokens", "stream_offset",
        F.expr(f"stream_offset DIV {capacity}").alias("first_bin"),
        F.expr(
            f"(stream_offset + greatest(n_tokens, 1) - 1) DIV {capacity}"
        ).alias("last_bin"),
    )


def corpus_mix(documents: DataFrame, weights: dict, key: str = "doc_id",
               group: str = "source", salt: str = "mix-v1",
               default_rate: float = 0.0) -> DataFrame:
    """Weighted deterministic corpus mixing: keep a row when the md5
    bucket of its salted key falls below its group's configured rate —
    so a re-run reproduces the exact mix, raising one source's weight
    strictly grows its kept set (nesting), and membership is
    independent of partitioning.

    `weights` (group -> rate in [0,1]) becomes a map LITERAL — the
    lookup is a pure expression, zero shuffle and zero join for the
    dictionary sizes a mixing config actually has (thousands of
    sources fit fine; for a weights TABLE beyond literal size, join it
    with F.broadcast and filter on the joined rate instead — same
    bucket, same semantics).  Groups absent from `weights` default to
    `default_rate` (0 = drop, the curation-safe default).
    """
    entries = []
    for g, r in weights.items():
        entries += [F.lit(g), F.lit(int(round(r * 1_000_000)))]
    thr = F.coalesce(
        F.create_map(*entries)[F.col(group)],
        F.lit(int(round(default_rate * 1_000_000))),
    )
    return documents.filter(_hash_bucket(salt, F.col(key)) < thr)


# ---------------------------------------------------------------------------
# 9. eval-set decontamination + intra-document repetition signals
# ---------------------------------------------------------------------------

def decontaminate(documents: DataFrame, eval_docs: DataFrame,
                  shingle_n: int = 5, text: str = "text",
                  eval_id: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word n-gram with an eval/benchmark document — the hygiene pass
    every pretraining corpus runs so test-set text cannot leak into
    training data.  The reference's analog is its exact/fuzzy overlap
    detection between entries (deduplication_service.py:101-480); here
    the "duplicate" partner is an EXTERNAL eval set rather than a
    sibling entry.

    Returns one row per corpus document: ``n_hit_shingles`` (distinct
    shared n-grams), ``matched_evals`` (sorted comma-joined eval ids),
    ``contaminated`` (any hit).

    100 TB notes:

    * eval sets are tiny relative to the corpus (benchmarks are 1e4..
      1e6 docs), so the eval shingle table is explicitly
      ``F.broadcast`` — the corpus side streams through a broadcast
      hash join with ZERO shuffle; only the HIT rows (a small
      fraction by construction) reach the per-doc aggregation, keyed
      on uniform doc_id.
    * grams join on their md5 (fixed 32-char key) instead of the raw
      n-gram string, so join-key width is bounded regardless of gram
      length.
    * the final left join marks non-hit documents; AQE converts it to
      a broadcast join at runtime when the hit table is small (the
      normal case).  Both sides shingle with ``rules.shingles``
      (``shingles_udf``; distinct grams per doc — multiplicity is
      irrelevant to a contamination flag).  The Python UDF reads its
      input column once per row, so an expensive text expression
      (curate_corpus' redaction chain) is evaluated once, not per gram.
    """
    sh = shingles_udf(shingle_n)
    doc_sh = documents.select(
        "doc_id", F.explode_outer(sh(F.col(text))).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("g"))
    ev_sh = eval_docs.select(
        F.col(eval_id).alias("eval_id"),
        F.explode_outer(sh(F.col(text))).alias("gram"),
    ).select("eval_id", F.md5("gram").alias("g")).dropDuplicates(
        ["eval_id", "g"]
    )
    hits = (
        doc_sh.join(F.broadcast(ev_sh), "g")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("g").alias("n_hit_shingles"),
            F.array_join(F.array_sort(F.collect_set("eval_id")), ",")
            .alias("matched_evals"),
        )
    )
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_shingles", F.lit(0)).cast("long")
            .alias("n_hit_shingles"),
            F.coalesce("matched_evals", F.lit("")).alias("matched_evals"),
            (F.coalesce("n_hit_shingles", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )


def repetition_stats(documents: DataFrame, text: str = "text") -> DataFrame:
    """Gopher-style intra-document repetition signals, the quality
    filter that catches boilerplate-looped and generation-degenerate
    documents: per doc, duplicate-line fraction (occurrences beyond a
    line's first), duplicate-line CHARACTER fraction (weight long
    repeated lines), and the most-frequent-bigram share of all
    bigrams.  Extends the reference's page-level quality probes
    (ocr_service.py:304-364 penalizes repeated-marker density) from a
    score penalty to standalone filterable columns.

    100 TB notes: no per-doc O(n^2) HOF scans — lines and bigrams are
    exploded and counted via groupBy, so a pathological million-line
    document costs O(n log n) across the cluster instead of O(n^2) on
    one task.  Both aggregations key on (doc_id, item) then doc_id —
    uniform hash keys, map-side partial aggregation; the two feature
    tables join back to the doc spine on doc_id.  Fractions are
    round(x, 6) doubles for engine-portable comparisons.
    """
    base = documents.select("doc_id")
    line = F.trim(F.col("raw"))
    line_counts = (
        documents.select(
            "doc_id",
            F.explode(F.split(F.coalesce(F.col(text), F.lit("")), "\n"))
            .alias("raw"),
        )
        .select("doc_id", line.alias("line"))
        .filter(F.col("line") != "")
        .groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.length("line").cast("long")
    line_agg = line_counts.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_lines"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_lines"),
        F.sum((F.col("cnt") - 1) * chars).cast("long").alias("dup_chars"),
        F.sum(F.col("cnt") * chars).cast("long").alias("tot_chars"),
    )
    # words STAGED as a real column before the bigram transform: an
    # inline split inside the lambda body is re-evaluated once per
    # bigram (the fingerprints() trap) — measured 8.4 -> 1.1 s warm at
    # sf0.1 on the scored query from this staging + explode_outer
    w = F.col("_words")
    nb = F.size(w) - 1
    bigrams = F.when(
        nb > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(nb, F.lit(1))),
            lambda i: F.array_join(F.slice(w, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigram_agg = (
        documents.select(
            "doc_id", F.split(norm_text(F.col(text)), " ").alias("_words")
        )
        .select("doc_id", F.explode_outer(bigrams).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").cast("long").alias("top_bigram_count"),
            F.sum("cnt").cast("long").alias("n_bigrams"),
        )
    )
    frac = lambda num, den: F.round(
        F.when(
            F.coalesce(den, F.lit(0)) > 0,
            num.cast("double") / den,
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        base.join(line_agg, "doc_id", "left")
        .join(bigram_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_distinct_lines", F.lit(0)).cast("long")
            .alias("n_distinct_lines"),
            frac(F.col("n_lines") - F.col("n_distinct_lines"), F.col("n_lines"))
            .alias("dup_line_fraction"),
            frac(F.col("dup_chars"), F.col("tot_chars"))
            .alias("dup_char_fraction"),
            F.coalesce("top_bigram_count", F.lit(0)).cast("long")
            .alias("top_bigram_count"),
            frac(F.col("top_bigram_count"), F.col("n_bigrams"))
            .alias("top_bigram_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# 10. PII scrubbing
# ---------------------------------------------------------------------------

PII_PATTERNS = (
    # order matters: emails first (their local parts can contain digits
    # that the phone pattern would otherwise nibble), then phones, then
    # SSNs.  Conservative RE2-compatible regexes — identical semantics
    # under Java regex (Spark) and RE2 (DuckDB oracle).
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
)


def redact_pii(documents: DataFrame, text: str = "text") -> DataFrame:
    """PII scrubbing pass: replace emails / phone numbers / SSNs with
    typed placeholders and count what was redacted — the privacy-
    hygiene stage a training corpus runs before anything else sees the
    text.  Extends the reference's unclear-marker substitution pattern
    (variant_preservation.py:170-185 rewrites spans to typed '[...]'
    placeholders) from legibility markers to privacy redaction.

    Returns (doc_id, redacted text, per-kind counts, has_pii).  Pure
    projection — chained JVM regexp_replace/regexp_count inside
    whole-stage codegen, zero shuffle, zero Python; at 100 TB this is
    a scan-time map that fuses with whatever stage follows it.  Each
    kind is counted on the text as it stands AFTER the previous kinds'
    replacements, so every counted span is exactly a span the matching
    replacement claimed (a digit run inside an email can never also be
    counted as a phone).
    """
    red, counts, _ = redact_exprs(F.col(text))
    total = None
    for kind, _, _ in PII_PATTERNS:
        c = F.col(f"n_{kind}s")
        total = c if total is None else total + c
    return documents.select(
        "doc_id", red.alias("text"), *counts
    ).withColumn("has_pii", total > 0)


def redact_exprs(text):
    """(redacted_text, per-kind count columns, has_pii) expressions
    over an arbitrary text column — shared by redact_pii and
    curate_corpus.  Counting-then-replacing per kind preserves the
    span-claiming order documented in redact_pii."""
    red = F.coalesce(text, F.lit(""))
    counts, raw_counts = [], []
    for kind, pat, repl in PII_PATTERNS:
        c = F.regexp_count(red, F.lit(pat)).cast("long")
        raw_counts.append(c)
        counts.append(c.alias(f"n_{kind}s"))
        red = F.regexp_replace(red, pat, repl)
    total = raw_counts[0]
    for c in raw_counts[1:]:
        total = total + c
    return red, counts, (total > 0)


# ---------------------------------------------------------------------------
# 11. corpus-wide heavy hitters (frequent n-grams)
# ---------------------------------------------------------------------------

def top_ngrams(documents: DataFrame, n: int = 3, k: int = 100,
               min_docs: int = 2, text: str = "text") -> DataFrame:
    """Corpus-wide frequent word n-grams: the k most common n-grams
    with total occurrences and document frequency — the boilerplate-
    mining primitive a training corpus runs to find template headers,
    license banners and navigation chrome worth stripping before
    training.  Extends the reference's fixed marker dictionaries
    (ocr_service.py:366-420 counts KNOWN handwriting/abbreviation
    markers) to discovering the corpus's own repeated phrases.

    Per-document counts are ``rules.gram_counts`` (the normalization
    and word windows of ``rules.shingles``); docs shorter than n words
    contribute nothing.  Rows with
    doc_freq < min_docs are dropped (a phrase repeated only inside one
    document is repetition_stats' signal, not a corpus-wide one).

    100 TB notes: per-document gram COUNTING happens inside the Arrow
    batch (a local dict per doc), so the only shuffle is the final
    groupBy(ngram) — and it receives at most one (ngram, cnt) row per
    (doc, ngram), already pre-reduced, with map-side partial
    aggregation shrinking it further to ~one row per distinct ngram
    per task.  Natural-language gram keys are Zipf-skewed, but a SUM
    over partial aggregates has no hot-key problem — every task emits
    one partial row for "of the and" regardless of its local count.
    The top-k is orderBy+limit, which Spark executes as
    TakeOrderedAndProject: a per-partition k-heap merged on the
    driver, never a global sort.
    """
    return (
        documents
        .select(F.explode(gram_counts_udf(n)(F.col(text)))
                .alias("ngram", "cnt"))
        .groupBy("ngram")
        .agg(
            F.sum("cnt").cast("long").alias("occurrences"),
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
        )
        .filter(F.col("doc_freq") >= min_docs)
        .orderBy(F.col("occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# 12. per-document salient terms (tf-idf-style keyword extraction)
# ---------------------------------------------------------------------------

def salient_terms(documents: DataFrame, k: int = 5,
                  text: str = "text") -> DataFrame:
    """Per-document top-k distinctive terms: rank each document's
    words by tf * N / df (term frequency scaled by inverse document
    frequency) — the keyword-extraction primitive a corpus pipeline
    uses for topic tagging and stratified sampling.  Extends the
    reference's fixed section keyword dictionaries
    (ocr_service.py:592-598 matches a curated 16-entry vocabulary) to
    per-document vocabulary discovered from corpus statistics.

    The score is tf*N/df rather than the textbook tf*ln(N/df) by
    design: tf*N is an exact BIGINT product and the single division is
    IEEE-754 correctly rounded, so Spark (JVM) and any oracle engine
    produce bit-identical doubles — ln is only faithfully rounded per
    libm and may differ in the last ulp across engines.  N/df is a
    strictly monotone transform of ln(N/df), so the RANKING is the
    classical tf-idf ranking; ties break on term ASC (total order:
    terms are unique per document).

    100 TB notes: three bounded shuffles. (1) Per-doc term counts come
    pre-reduced out of the Arrow batch (``gram_counts_udf(1)``) — no
    per-occurrence explode.  (2) df = groupBy(term): Zipf-hot keys,
    but each doc contributes at most ONE row per term and map-side
    partial counts collapse those to ~one row per distinct term per
    task before the wire.  (3) The tf-side join to df is an equi-join
    on term (1 df row per key — no fan-out; AQE splits oversized "the"
    partitions), and N joins in as a broadcast single-row aggregate.
    (4) top-k per doc is a row_number window over doc_id — uniform
    keys, state = one k-heap per doc per partition.  The tf subtree
    feeds both the df branch and the join probe, so the scan + Arrow
    pass runs twice; at 100 TB either accept the recompute (one cheap
    map pass) or persist tf between the branches.
    """
    tf = (
        documents
        .select(F.col("doc_id"),
                F.explode(gram_counts_udf(1)(F.col(text)))
                .alias("term", "tf"))
        .filter(F.col("term") != "")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term",
                F.col("tf").cast("long").alias("tf"),
                "df",
                # rank on the exact quotient, EMIT round-6 (house style
                # for cross-engine double comparison)
                F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# 13. cross-document containment (copy detection over fingerprints)
# ---------------------------------------------------------------------------

def containment_pairs(documents: DataFrame, k: int = 5, window: int = 4,
                      min_containment: float = 0.5,
                      max_df: int | None = None,
                      hash_fn: str = "xxhash64",
                      *, cache: str = "none") -> DataFrame:
    """Asymmetric copy detection: pairs of documents where one's
    winnowing-fingerprint set is substantially contained in the
    other's — the doc-inside-doc case (a page quoting another, a
    scrape embedding a whole article) that symmetric Jaccard
    thresholds miss because the union is dominated by the larger doc.
    This is the MOSS shape: winnow (``fingerprints``), invert, count
    shared fingerprints per pair, score containment = shared/|own|.

    Emits (doc_a, doc_b, n_common, n_fp_a, n_fp_b,
    containment_a_in_b, containment_b_in_a) for pairs where the
    LARGER of the two containments clears ``min_containment``
    (fractions round-6 for engine-portable comparison; the filter
    runs on the exact quotients).

    100 TB notes: candidate generation is the inverted-index
    equi-join on fingerprint value — uniform 64-bit (or hex-digest)
    keys, no all-pairs.  The hazard is a boilerplate fingerprint
    shared by m docs fanning out m^2 pair rows; ``max_df`` is the
    standard MOSS guard — drop fingerprints appearing in more than
    max_df documents before the self-join (an over-common fingerprint
    identifies boilerplate, not copying).  The pair aggregation keys
    on (doc_a, doc_b) — uniform.  Winnowing itself is per-row array
    ops (no shuffle) inherited from ``fingerprints``.

    The exploded fingerprint table has up to three consumers (the
    max_df build plus both self-join sides), each of which would
    re-run the winnowing scan.  ``cache`` follows the
    ``lsh_pairs_from_signatures`` convention: ``"none"`` (default)
    re-scans — right when ``documents`` is a cheap re-readable parquet
    scan and fault recovery matters; ``"local"`` lazily
    localCheckpoints the exploded table so winnowing computes at most
    once — right for expensive derived input plans (lineage is
    truncated: an executor loss fails the job instead of recomputing).
    """
    fp = fingerprints(documents, k=k, window=window, hash_fn=hash_fn)
    # explode_outer, NOT explode: InferFiltersFromGenerate adds a
    # size(col) > 0 filter for plain explode, and predicate pushdown
    # then substitutes the winnowing aliases into that filter —
    # re-deriving the whole O(n^2)-per-row nested HOF expression from
    # raw text (measured 26 s vs 2.7 s for this explode at sf0.01).
    # The rule skips outer generators, and the two are equivalent here:
    # fingerprints() always emits >=1 fingerprint per doc (its
    # otherwise-branch hashes the whole text), so no null rows appear.
    ex = fp.select(
        "doc_id", F.size("fingerprints").alias("n_fp"),
        F.explode_outer("fingerprints").alias("fp"),
    )
    if cache == "local":
        ex = ex.localCheckpoint(eager=False)
    elif cache != "none":
        raise ValueError(f"cache must be local|none, got {cache!r}")
    if max_df is not None:
        keep = (
            ex.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df).select("fp")
        )
        ex = ex.join(keep, "fp")
    a = ex.select(F.col("doc_id").alias("doc_a"),
                  F.col("n_fp").alias("n_fp_a"), "fp")
    b = ex.select(F.col("doc_id").alias("doc_b"),
                  F.col("n_fp").alias("n_fp_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_fp_a", "n_fp_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    c_ab = F.col("n_common").cast("double") / F.col("n_fp_a")
    c_ba = F.col("n_common").cast("double") / F.col("n_fp_b")
    return (
        pairs.filter(F.greatest(c_ab, c_ba) >= min_containment)
        .select(
            "doc_a", "doc_b", "n_common",
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
            F.round(c_ab, 6).alias("containment_a_in_b"),
            F.round(c_ba, 6).alias("containment_b_in_a"),
        )
    )


# ---------------------------------------------------------------------------
# 14. exact substring-span deduplication (corpus-wide span excision)
# ---------------------------------------------------------------------------

def dedup_spans(documents: DataFrame, min_len: int = 20,
                hash_fn: str = "xxhash64") -> DataFrame:
    """Corpus-wide EXACT substring deduplication in the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" (2021)
    family: any word sequence of length ``min_len`` that occurs more
    than once across the corpus (or within one document) is excised
    from every occurrence EXCEPT one canonical copy — the occurrence
    with the smallest (doc_id, position).  Doc-level dedup
    (``exact_dedup``/near-dup/``containment_pairs``) cannot express
    this: a boilerplate paragraph shared by a thousand otherwise-unique
    pages survives every document-granularity pass, but is exactly the
    text an LLM memorizes.

    Operates in ``norm_text`` space (lowercase, collapsed whitespace)
    and emits the deduplicated NORMALIZED text — one row per input
    document: (doc_id, text, n_words, n_removed).  Documents shorter
    than ``min_len`` words pass through whole.  A document that is
    entirely a duplicate of an earlier one comes back empty.
    Occurrence positions are 1-based word offsets; an occurrence at
    position p claims words [p, p+min_len).  Overlapping duplicated
    grams union their claimed intervals, so maximal duplicated runs
    are removed end-to-end.  As in the reference algorithm, a
    canonical span can still disappear when a DIFFERENT gram's
    non-canonical occurrence overlaps it — "keep one copy" is
    per-gram, not per-character.

    100 TB notes: the position table carries one row per word of
    corpus — the same cardinality as a tokenizer pass — keyed by a
    uniform 64-bit/hex gram hash; the duplicate-gram groupBy and the
    canonical min(struct(doc_id, pos)) agg both partial-aggregate
    map-side on that uniform key, and the removal-interval
    collect_list is bounded by document length.  No all-pairs stage
    anywhere: corpus-wide duplication is found by hash equality, the
    inverted-index shape again.  The rebuild is per-row array work,
    O(words x removed-intervals) per doc worst case (a pathological
    fully-boilerplate mega-doc is bounded by its own length squared
    over min_len).  Cites the same reference surfaces as the other
    corpus hygiene ops (deduplication_service.py's doc-level passes);
    the span granularity itself is beyond-reference.
    """
    gram_hash = F.md5 if hash_fn == "md5" else F.xxhash64
    # staged selects throughout — HOF lambda bodies must only touch
    # bound columns (see fingerprints(): inline computed subtrees are
    # re-evaluated per element, and plain explode's inferred
    # size-filter re-derives them per row)
    words = documents.select(
        "doc_id", F.split(norm_text(F.col("text")), " ").alias("_words")
    )
    w = F.col("_words")
    ng = F.size(w) - (min_len - 1)
    grams = words.select(
        "doc_id", "_words",
        F.when(
            ng >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(ng, F.lit(1))),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    gram_hash(F.array_join(F.slice(w, i, min_len), " "))
                    .alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,h:string>>")
                    if hash_fn == "md5" else
                    F.array().cast("array<struct<pos:int,h:bigint>>"))
        .alias("_grams"),
    )
    occ = (
        grams.select("doc_id", F.explode_outer("_grams").alias("g"))
        .filter(F.col("g").isNotNull())
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    )
    # duplicated grams + their canonical (minimal) occurrence in ONE
    # uniform-key aggregation; min(struct) orders lexicographically
    dup = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"),
             F.min(F.struct("doc_id", "pos")).alias("canon"))
        .filter(F.col("n_occ") >= 2)
        .select("h", "canon")
    )
    removal = (
        occ.join(dup, "h")
        .filter(~((F.col("doc_id") == F.col("canon.doc_id"))
                  & (F.col("pos") == F.col("canon.pos"))))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_ivs"))
    )
    rebuilt = (
        grams.select("doc_id", "_words")
        .join(removal, "doc_id", "left")
        .select("doc_id", "_words",
                F.coalesce(F.col("_ivs"), F.array().cast("array<int>"))
                .alias("_ivs"))
    )
    iv = F.col("_ivs")
    # filter's index i is 0-based; interval starts are 1-based
    clean = F.filter(
        w, lambda x, i: ~F.exists(
            iv, lambda p: (i >= p - 1) & (i < p - 1 + min_len))
    )
    return (
        rebuilt.select(
            "doc_id",
            F.array_join(clean, " ").alias("text"),
            F.size(w).cast("long").alias("n_words"),
            (F.size(w) - F.size(clean)).cast("long").alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# 15. cross-document line-level boilerplate removal (CCNet-style)
# ---------------------------------------------------------------------------


def line_boilerplate(documents: DataFrame, min_docs: int = 3,
                     text: str = "text") -> DataFrame:
    """Corpus-statistical boilerplate stripping at LINE granularity, in
    the CCNet family (Wenzek et al. 2020 deduplicate at paragraph level
    precisely because repeated paragraphs are navigation chrome, cookie
    banners and license footers, not content): any normalized line that
    occurs in >= ``min_docs`` DISTINCT documents is boilerplate and is
    removed from every document.  This is the corpus-level complement
    of the reference's per-page header/footer stripping
    (ocr_service.py's page-banner and disclaimer rules find boilerplate
    a rule author anticipated; the df-threshold finds the boilerplate
    nobody wrote a rule for).  Intra-document repetition is
    deliberately NOT counted (that signal is ``repetition_stats``):
    the flag is cross-document document-frequency.

    One row per input document: (doc_id, text, n_lines,
    n_boilerplate_lines, boilerplate_char_fraction) — ``text`` is the
    kept lines (trimmed, originally-cased) rejoined with newlines in
    original order; counts are over non-empty trimmed lines; the char
    fraction is round-6 over the non-empty-line character mass.

    100 TB notes:

    * lines join on the md5 of their normalized form, so join-key
      width is bounded regardless of line length (same idiom as
      ``decontaminate``).
    * the df aggregation is a two-phase count-distinct on a uniform
      hash key (hot boilerplate lines ARE the heavy keys, but
      partial aggregation collapses each (line, doc) pair map-side
      before the shuffle).
    * the boilerplate SET (lines with df >= min_docs) is tiny relative
      to the corpus — repeated chrome, not content — so the line->flag
      join is AQE-broadcastable at any realistic scale; the plan is
      left as an equi-join so AQE can pick broadcast when small and a
      uniform-key shuffle join when not (no hand-forced broadcast that
      OOMs the driver on an adversarial corpus).
    * rebuild is a per-doc sort_array(collect_list(struct(pos,line)))
      bounded by document length, keyed on uniform doc_id.
    """
    lines = (
        documents.select(
            "doc_id",
            F.posexplode_outer(
                F.split(F.coalesce(F.col(text), F.lit("")), "\n")
            ).alias("pos", "_raw"),
        )
        .select("doc_id", "pos", F.trim(F.col("_raw")).alias("line"))
        .filter(F.col("line") != "")
        .select(
            "doc_id", "pos", "line",
            F.md5(
                F.regexp_replace(F.lower(F.col("line")), r"\s+", " ")
            ).alias("k"),
        )
    )
    boiler = (
        lines.groupBy("k")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("k", F.lit(True).alias("_boiler"))
    )
    flagged = lines.join(boiler, "k", "left").select(
        "doc_id", "pos", "line",
        F.coalesce("_boiler", F.lit(False)).alias("_boiler"),
        F.length("line").cast("long").alias("_chars"),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("_boiler"),
                               F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("_boiler").cast("long")).cast("long")
        .alias("n_boilerplate_lines"),
        F.round(
            F.sum(F.when(F.col("_boiler"), F.col("_chars")).otherwise(0))
            .cast("double") / F.sum("_chars"),
            6,
        ).alias("boilerplate_char_fraction"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            F.coalesce("n_boilerplate_lines", F.lit(0)).cast("long")
            .alias("n_boilerplate_lines"),
            F.coalesce("boilerplate_char_fraction", F.lit(0.0))
            .alias("boilerplate_char_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# 16. corpus-trained bigram-LM predictability scores (CCNet-style quality)
# ---------------------------------------------------------------------------


def bigram_lm_scores(documents: DataFrame, text: str = "text") -> DataFrame:
    """Statistical-LM quality scoring in the CCNet/KenLM family: train
    a bigram language model ON THE CORPUS ITSELF (one aggregation) and
    score every document by how predictable its word transitions are
    under that model.  Degenerate text — mojibake, shuffled tokens,
    OCR noise — scores near zero; fluent in-domain text scores high.
    The reference's quality analog is per-page heuristic scoring
    (ocr_service.py:304-364); this is the corpus-statistical upgrade a
    training pipeline runs when no rule anticipates the garbage.

    Scores are TRANSCENDENTAL-FREE by design (the same engine-
    portability reasoning as ``salient_terms``' tf*N/df): instead of
    log-perplexity, the per-document score is the occurrence-weighted
    mean of exact conditional probabilities p(w2|w1) =
    c(w1,w2)/c(w1,*), each a correctly-rounded IEEE division of two
    BIGINT corpus counts — bit-identical across engines, unlike ln()
    whose last ulp is libm-specific.  The occurrence-weighted terms are
    summed in ascending order by a sequential fold, so the mean does not
    depend on the partition layout (a plain double SUM would).  The mean
    is a strictly monotone proxy for the (inverse) perplexity ranking on
    this model class.

    One row per document: (doc_id, n_tokens, n_bigrams,
    n_hapax_bigrams, hapax_rate, mean_bigram_prob) —
    ``n_hapax_bigrams`` counts bigram occurrences whose corpus count
    is exactly 1 (they appear nowhere else, the strongest novelty/
    noise signal); rates are round-6.

    100 TB notes:

    * bigram occurrences are pre-aggregated per (doc_id, w1, w2)
      BEFORE joining the model tables, so the probe carries one row
      per distinct in-doc bigram, not one per token.
    * the model tables c(w1,w2) and c(w1,*) come from ONE groupBy
      each (the unigram-left table is a re-aggregation of the bigram
      table — no second corpus pass); both shuffles key on uniform
      word hashes with map-side partials.
    * the probe joins are equi-joins on those keys; stopword-headed
      bigrams are the heavy keys and AQE's skew-join split handles
      them (join skew, unlike agg skew, never concentrates a key on
      one task after splitting).  Nothing is hand-broadcast: at 100 TB
      the bigram model table scales with corpus vocabulary^2 reach
      and must stay a shuffle join; AQE downgrades to broadcast at
      test scale automatically.
    * the ordered fold collects one double per distinct in-doc bigram,
      so its per-doc state is bounded by the document's length.
    """
    words = documents.select(
        "doc_id", F.split(norm_text(F.col(text)), " ").alias("_words")
    )
    w = F.col("_words")
    nb = F.size(w) - 1
    # staged _words (HOF lambda bodies touch only bound columns) and
    # explode_outer (skip the inferred size-filter re-derivation) per
    # the fingerprints()/dedup_spans() evaluation-trap notes
    bg = (
        words.select(
            "doc_id",
            F.when(
                nb >= 1,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(nb, F.lit(1))),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            ).alias("_bg"),
        )
    )
    occ = (
        bg.select("doc_id", F.explode_outer("_bg").alias("b"))
        .filter(F.col("b").isNotNull())
        .groupBy("doc_id", F.col("b.w1").alias("w1"),
                 F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    c12 = occ.groupBy("w1", "w2").agg(F.sum("occ").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    term = F.col("occ") * (F.col("c12").cast("double") / F.col("c1"))
    probed = (
        occ.join(c12, ["w1", "w2"]).join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("c12") == 1, F.col("occ")).otherwise(0))
            .cast("long").alias("n_hapax_bigrams"),
            # sorted sequential fold, not F.sum: a double sum's
            # addition order follows the partition layout (and the
            # engine), so its last ulp could flip the round-6 result
            F.round(
                F.aggregate(F.array_sort(F.collect_list(term)),
                            F.lit(0.0), lambda acc, x: acc + x)
                / F.sum("occ"),
                6,
            ).alias("mean_bigram_prob"),
        )
    )
    n_tok = F.when(
        norm_text(F.col(text)) == "", F.lit(0)
    ).otherwise(F.size(F.split(norm_text(F.col(text)), " "))).cast("long")
    return (
        documents.select("doc_id", n_tok.alias("n_tokens"))
        .join(probed, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("n_bigrams", F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.coalesce("n_hapax_bigrams", F.lit(0)).cast("long")
            .alias("n_hapax_bigrams"),
            F.coalesce(
                F.round(F.col("n_hapax_bigrams").cast("double")
                        / F.col("n_bigrams"), 6),
                F.lit(0.0),
            ).alias("hapax_rate"),
            F.coalesce("mean_bigram_prob", F.lit(0.0))
            .alias("mean_bigram_prob"),
        )
    )


# ---------------------------------------------------------------------------
# 17. composed corpus curation pipeline (hygiene complement of the dedup DAG)
# ---------------------------------------------------------------------------


def curate_corpus(documents: DataFrame, eval_docs: DataFrame | None = None,
                  *, text: str = "text", min_tokens: int = 5,
                  max_tokens: int = 100_000, min_quality: float = 0.5,
                  shingle_n: int = 4, split_key: str = "source",
                  split_salt: str = "split-v1",
                  weights=(("train", 0.98), ("val", 0.01), ("test", 0.01)),
                  ) -> DataFrame:
    """One-stop corpus curation decision table — the composed hygiene
    pipeline a pretraining corpus runs end-to-end (the Dolma /
    RedPajama / CCNet shape): PII redaction -> length + quality
    filters -> eval-set decontamination -> exact-dedup
    canonicalization -> deterministic split assignment, emitting ONE
    row per document with the keep/drop decision, the FIRST failing
    rule, and the split.  The composed twin of ``corpus_dedup_pipeline``
    (which composes the near-dup dedup DAG); together they cover both
    halves of a production curation run.

    Output, one row per input document: (doc_id, <split_key>, keep,
    drop_reason, split, has_pii, contaminated, n_tokens, quality_score,
    canonical_id).  ``drop_reason`` is the first failing rule in the
    fixed priority order ``too_short`` -> ``too_long`` ->
    ``low_quality`` -> ``contaminated`` -> ``duplicate`` ('' when
    kept); PII is redacted and RECORDED, never a drop.  Every signal
    is computed on the REDACTED text.

    Invariant worth stating: all filter signals are pure functions of
    the redacted text, and the duplicate digest is md5 of that same
    (un-normalized) text, so members of an exact-duplicate group are
    indistinguishable except by doc_id — either the whole group fails
    the same earlier rule, or exactly the canonical (min doc_id)
    survives and the rest read ``duplicate``.  The kept set therefore
    contains exactly one copy of every passing content group, without
    a dedup-after-filter second pass.

    Thresholds/decisions apply to UNROUNDED values (the engine-
    portability convention of the sketch/ANN family); the emitted
    quality_score is likewise unrounded — every factor is an int/int
    division in a fixed op order, bit-identical across engines.

    100 TB notes:

    * redaction, token/quality scoring, digest, and split assignment
      are ONE scan-pipelined stage — JVM expressions around one Arrow
      UDF (``rules.quality_signals``), zero shuffle — and the TEXT
      never leaves it: every downstream exchange carries only the
      narrow signal row (doc_id, key, flags, counts, digest).
    * the canonical-id table is one groupBy on the uniform md5 digest
      (map-side partials) joined back on the digest — the exact-dedup
      shape, on 32-char keys, never on text.
    * the decontamination probe is the broadcast eval-shingle join of
      ``decontaminate`` (zero corpus shuffle); its re-derivation of
      the redacted text is a recomputed projection over the scan (the
      corpus-op convention: recompute beats materializing text), and
      its hit table — small by construction — joins back to the
      signal rows on uniform doc_id, AQE-broadcast in the normal case.
    * reuses redact_exprs / deterministic ``hash_split`` /
      ``decontaminate`` verbatim; the token + quality signals are the
      ``rules.quality_signals`` that ``quality_scores`` and
      ``token_counts`` run.
    """
    red, _, has_pii = redact_exprs(F.col(text))
    base = documents.select(
        "doc_id",
        F.col(split_key),
        red.alias("_red"),
        has_pii.alias("has_pii"),
    )
    sig = base.select(
        "doc_id", split_key, "has_pii",
        signals_udf()(F.col("_red")).alias("_sc"),
        # keyed on the exact text the signals score: a norm_text key
        # would group whitespace variants whose punct_ratio differs, so
        # a failing canonical could drop a passing twin as 'duplicate'
        F.md5(F.col("_red")).alias("_digest"),
    ).select(
        "doc_id", split_key, "has_pii",
        F.col("_sc.n_tokens").alias("n_tokens"),
        F.col("_sc.quality_score").alias("quality_score"),
        "_digest",
    )
    sig = hash_split(sig, key=split_key, salt=split_salt, weights=weights)
    canon = (
        sig.select("_digest", "doc_id")
        .groupBy("_digest").agg(F.min("doc_id").alias("canonical_id"))
    )
    d = sig.join(canon, "_digest")
    if eval_docs is not None:
        dec = decontaminate(
            base.select("doc_id", F.col("_red").alias("text")),
            eval_docs, shingle_n=shingle_n,
        ).select("doc_id", "contaminated")
        d = d.join(dec, "doc_id", "left")
        contaminated = F.coalesce(F.col("contaminated"), F.lit(False))
    else:
        contaminated = F.lit(False)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, "too_short")
        .when(F.col("n_tokens") > max_tokens, "too_long")
        .when(F.col("quality_score") < min_quality, "low_quality")
        .when(contaminated, "contaminated")
        .when(F.col("doc_id") != F.col("canonical_id"), "duplicate")
        .otherwise("")
    )
    return d.select(
        "doc_id", split_key,
        (reason == "").alias("keep"),
        reason.alias("drop_reason"),
        "split", "has_pii",
        contaminated.alias("contaminated"),
        "n_tokens", "quality_score", "canonical_id",
    )
