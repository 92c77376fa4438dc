"""Corpus operators (dedup family, quality, langid, tokens,
fingerprints), ANN, and multimodal plumbing over the driver testdata."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from medical_pdf__ocr_structured_ccd_ccda_output_spark import rules
from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators import corpus, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _norm(s):
    return re.sub(r"\s+", " ", s.lower()).strip()


def test_exact_dedup(spark, docs):
    out = corpus.exact_dedup(docs)
    got_total = out.agg(F.sum("dup_count")).first()[0]
    assert got_total == docs.count()
    # python oracle
    rows = [(r["doc_id"], _norm(r["text"])) for r in docs.collect()]
    groups = {}
    for did, t in rows:
        groups.setdefault(t, []).append(did)
    assert out.count() == len(groups)
    keep = {min(v) for v in groups.values()}
    got_keep = {r["keep_doc_id"] for r in out.collect()}
    assert got_keep == keep


def test_ngram_jaccard_pairs_python_oracle(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in corpus.ngram_jaccard_pairs(df, 3, 0.5).collect()}

    def shingles(t, n=3):
        w = _norm(t).split(" ")
        return set(" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1)))

    assert (1, 4) in got and got[(1, 4)] == 1.0
    s1, s2 = shingles(data[0][1]), shingles(data[1][1])
    want = len(s1 & s2) / len(s1 | s2)
    if want >= 0.5:
        assert abs(got[(1, 2)] - want) < 1e-6
    assert all(3 not in pair for pair in got)


def test_minhash_lsh_finds_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    variant = base.replace("kappa", "lambda", 1)
    data = [(1, base), (2, variant), (3, "unrelated words entirely disjoint corpus")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             corpus.minhash_lsh_pairs(df, num_hashes=32, bands=8,
                                      jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(200))
    variant = base.replace("tok7 ", "tok7x ", 1)
    df = spark.createDataFrame(
        [(1, base), (2, variant), (3, " ".join(f"z{i}" for i in range(200)))],
        "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in corpus.simhash_near_dups(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_quality_scores_python_oracle(spark, docs):
    sample = docs.limit(20)
    got = {r["doc_id"]: r.asDict() for r in corpus.quality_scores(sample).collect()}
    for r in sample.collect():
        words = _norm(r["text"]).split(" ")
        n_words = len(words)
        n_stop = sum(1 for w in words if w in rules.STOPWORDS)
        n_punct = len(r["text"]) - len(re.sub(r"[^\w\s]", "", r["text"]))
        g = got[r["doc_id"]]
        assert g["n_words"] == n_words
        assert g["n_chars"] == len(r["text"])
        assert abs(g["stopword_ratio"] - round(n_stop / n_words, 6)) <= 1e-6
        assert abs(g["punct_ratio"] - round(n_punct / len(r["text"]), 6)) <= 1e-6


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is happy with the food"),
         (2, "el gato y la casa que los perros de madrid"),
         (3, "qwerty zxcvb asdfgh")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in corpus.language_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world, 42 times!"), (2, ""), (3, "  a  b  ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in corpus.token_counts(df).collect()}
    assert got[1]["ws_tokens"] == 4
    # hello|world|,|42|times|! -> 6
    assert got[1]["bpe_tokens"] == 6
    assert got[2]["ws_tokens"] == 0
    assert got[3]["ws_tokens"] == 2


def test_token_counts_python_split_semantics(spark):
    """Round-3 review fix: ws_tokens == len(text.split()) — trim() is
    space-only, so \\n/\\t-padded text previously counted a phantom
    empty token (off-by-one on any document ending in a newline)."""
    cases = [(1, "a\n"), (2, "\thello"), (3, "\n"), (4, None),
             (5, "x\ny \t z\n"), (6, "\xa0only nbsp padded\xa0")]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r["doc_id"]: r["ws_tokens"]
           for r in corpus.token_counts(df).collect()}
    for i, t in cases:
        assert got[i] == len((t or "").split()), (i, t)


def test_fingerprints_winnowing_reduces(spark):
    """Round-3 review fix: winnowing windows slide over the POSITIONAL
    k-gram hash sequence.  The old sort-first version degenerated into
    'all hashes but the window-1 largest' (no size reduction); true
    winnowing keeps ~2/(window+1) of the grams.  Also pins the exact
    output against a pure-Python winnow."""
    words = [f"w{(i * 7919) % 97}" for i in range(300)]
    txt = " ".join(words)
    k, window = 3, 8
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    got = corpus.fingerprints(df, k=k, window=window,
                              hash_fn="md5").first()["fingerprints"]

    import hashlib
    grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    want = sorted({min(hs[i:i + window])
                   for i in range(len(hs) - window + 1)})
    assert got == want
    # the whole point: far fewer fingerprints than k-grams
    assert len(got) < len(set(hs)) / 2


def test_simhash_keeps_null_text_and_exact_mode(spark):
    """Round-3 review fixes: a NULL-text doc must still emit a simhash
    row (norm_text is null-safe), and max_hamming=0 (exact-match
    blocks, 64-bit mask) must not overflow a Java long."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "alpha beta gamma")],
        "doc_id long, text string")
    sh = {r["doc_id"]: r["simhash"] for r in corpus.simhash(df).collect()}
    assert set(sh) == {1, 2, 3}
    assert sh[1] == sh[3]
    pairs = {(r["doc_a"], r["doc_b"])
             for r in corpus.simhash_near_dups(df, max_hamming=0).collect()}
    assert (1, 3) in pairs


def test_fingerprints_python_oracle(spark):
    txt = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    got = corpus.fingerprints(df, k=3, window=2).first()["fingerprints"]
    assert len(got) >= 1
    assert got == sorted(set(got))
    # identical text -> identical fingerprints (determinism)
    got2 = corpus.fingerprints(df, k=3, window=2).first()["fingerprints"]
    assert got == got2


def test_brute_force_topk_numpy_oracle(spark, emb):
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got = similarity.brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))

    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in emb.collect()}
    for qid, neighbors in by_q.items():
        qv = mat[qid]
        scores = []
        for vid, v in mat.items():
            if vid == qid:
                continue
            s = float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v)))
            scores.append((-s, vid))
        want = [vid for _, vid in sorted(scores)[:5]]
        assert [v for _, v in sorted(neighbors)] == want, qid


def test_lsh_topk_recall(spark, emb):
    queries = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, k=5, n_planes=6, n_tables=12, dim=64).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall  # OR-amplified: 12 tables x 6 planes


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=30)
    feats = multimodal.decode_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert r["decode_status"] == "stub"
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-3
    plan = multimodal.frame_sample_plan(media, every_ms=5000)
    assert plan.count() > 0
    # real_decode: random-byte payloads are not RIFF -> unsupported slot
    real = multimodal.decode_features(media, real_decode=True).collect()
    assert all(r["decode_status"] == "unsupported_codec" for r in real)
    assert all(r["feature"] is None for r in real)


def test_multimodal_real_wav_decode(spark):
    """real_decode=True genuinely parses RIFF/WAV PCM with the stdlib:
    the uint16-sample histogram matches a local wave-module oracle, and
    corrupt RIFF payloads degrade to decode_error."""
    import io
    import wave

    import numpy as np

    keys = list(range(12))
    media = spark.createDataFrame(
        [(k, k, "audio", multimodal.synthetic_wav_payload(k),
          (None, None, None, "pcm_s16le")) for k in keys]
        + [(99, 99, "audio", b"RIFF1234WAVEgarbage",
            (None, None, None, "pcm_s16le"))],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in
            multimodal.decode_features(media, real_decode=True).collect()}
    for k in keys:
        payload = multimodal.synthetic_wav_payload(k)
        with wave.open(io.BytesIO(payload)) as w:
            frames = w.readframes(w.getnframes())
        samples = np.frombuffer(frames, dtype="<u2")
        want = np.bincount(samples % 16, minlength=16)
        r = rows[k]
        assert r["decode_status"] == "wav"
        assert r["n_bytes"] == len(payload) == 44 + 2 * (32 + k % 32)
        assert list(r["hist"]) == [int(x) for x in want]
        assert np.allclose(r["feature"], want / len(samples), atol=1e-6)
    assert rows[99]["decode_status"] == "decode_error"
    assert rows[99]["hist"] is None


def test_ngram_jaccard_banded_tier(spark, docs):
    """The banded (production) candidate tier verifies with the same
    exact Jaccard: on the documents corpus its surviving pairs must
    equal the min-shingle tier's for pairs both tiers surface, and it
    must find every exact-duplicate pair (identical signatures always
    share every band bucket)."""
    min_tier = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in corpus.ngram_jaccard_pairs(docs, 3, 0.8).collect()}
    banded = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in corpus.ngram_jaccard_pairs(
                  docs, 3, 0.8, candidate="banded",
                  num_hashes=16, bands=8).collect()}
    exact_pairs = {k for k, v in min_tier.items() if v == 1.0}
    assert exact_pairs <= set(banded)
    for k in set(min_tier) & set(banded):
        assert min_tier[k] == banded[k]


def test_cosine_near_dups_tiers(spark, emb):
    """Brute tier matches a numpy oracle; LSH tier recovers the
    high-cosine pairs without all-pairs work."""
    base = emb.select("vec_id", "embedding")
    clones = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(F.array(F.lit(0.0).cast("float")),
                 F.slice(F.col("embedding"), 2, F.size("embedding") - 1))
        .alias("embedding"),
    )
    aug = base.unionByName(clones)
    brute = {(r["id_a"], r["id_b"]) for r in
             similarity.cosine_near_dups(aug, threshold=0.9).collect()}
    n_clones = clones.count()
    assert len(brute) == n_clones  # each clone pairs only with its source
    assert all(b - a == 100000 for a, b in brute)
    lsh = {(r["id_a"], r["id_b"]) for r in
           similarity.cosine_near_dups_lsh(aug, threshold=0.9,
                                           n_planes=8, n_tables=8,
                                           dim=64).collect()}
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.9, recall
    assert lsh <= brute  # exact re-score: no false positives


def test_ivf_topk_recall(spark, emb):
    """IVF tier: deterministic k-means index, cell-equi-join candidates,
    exact re-rank.  Recall measured against brute force; probing all
    cells must recover brute force exactly."""
    queries = emb.limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    C = similarity.ivf_centroids(emb, n_centroids=16, iters=5, dim=64)
    assert C.shape == (16, 64)
    C2 = similarity.ivf_centroids(emb, n_centroids=16, iters=5, dim=64)
    assert (C == C2).all()  # deterministic index build

    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    approx = similarity.ivf_topk(emb, queries, C, k=5, nprobe=8).collect()
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, recall  # random 64-dim data: nprobe 8/16 cells

    full = similarity.ivf_topk(emb, queries, C, k=5, nprobe=16).collect()
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full}
    assert full_set == exact_set  # probing every cell == brute force


def test_ivf_index_artifact_roundtrip(spark, emb, tmp_path):
    """Persisted IVF index (parquet artifact with build_version):
    load == fresh build bit-for-bit; or_build amortizes (second call
    loads, no rebuild); loading under different params refuses."""
    import numpy as np

    path = str(tmp_path / "ivf_index.parquet")
    params = dict(n_centroids=16, iters=5, sample=4096, seed=42, dim=64)
    C = similarity.ivf_index_or_build(spark, emb, path, **params)
    assert C.shape == (16, 64)
    # artifact content: one row per centroid, uniform version column
    art = spark.read.parquet(path).collect()
    assert len(art) == 16
    assert len({r["build_version"] for r in art}) == 1
    # round-trip identity vs a fresh in-memory build
    fresh = similarity.ivf_centroids(emb, **params)
    loaded = similarity.load_ivf_index(spark, path, expect_params=params)
    assert (loaded == fresh).all()
    # or_build on the existing artifact loads (identical result) and
    # must not depend on the embeddings arg anymore
    again = similarity.ivf_index_or_build(
        spark, emb.limit(0), path, **params)
    assert (again == fresh).all()
    # param drift refuses, same semantics as manifest resume
    import pytest as _pt
    with _pt.raises(ValueError, match="built with params"):
        similarity.load_ivf_index(
            spark, path, expect_params={**params, "seed": 7})
    with _pt.raises(ValueError, match="built with params"):
        similarity.ivf_index_or_build(
            spark, emb, path, **{**params, "n_centroids": 8})
    # search through the loaded index == search through the fresh one
    queries = emb.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    a = similarity.ivf_topk(emb, queries, loaded, k=5, nprobe=8).collect()
    b = similarity.ivf_topk(emb, queries, fresh, k=5, nprobe=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# connected-components near-dup clustering (operators/graph.py)
# ---------------------------------------------------------------------------

def _uf_components(n_ids, edges):
    """Union-find oracle: id -> component-minimum id."""
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a not in parent or b not in parent:
            continue  # vertices table is authoritative (operator semantics)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps = {}
    for v in n_ids:
        comps.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comps.values() for v in members}


def test_connected_components_random_graphs(spark):
    import random

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(20260817)
    cases = []
    for _ in range(4):
        n = rng.choice([3, 25, 120])
        ids = list(range(n))
        m = rng.randint(0, n)
        cases.append((ids, [(rng.choice(ids), rng.choice(ids)) for _ in range(m)]))
    # adversarial: a 50-node chain (max diameter — exercises pointer jumping)
    cases.append((list(range(50)), [(i, i + 1) for i in range(49)]))
    # edges referencing unknown vertices are ignored
    cases.append(([0, 1, 2], [(1, 2), (2, 99)]))

    for ids, edges in cases:
        want = _uf_components(ids, edges)
        vs = spark.createDataFrame([(i,) for i in ids], "id long")
        es = spark.createDataFrame(edges, "src long, dst long") if edges else (
            spark.createDataFrame([], "src long, dst long")
        )
        got = {r["id"]: r["label"] for r in connected_components(vs, es).collect()}
        assert got == want


def test_near_dup_clusters_contract(spark, docs):
    """Cluster ids are the transitive closure of the pair graph; keep
    picks exactly one longest-text survivor per cluster."""
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.graph import (
        near_dup_clusters,
    )

    pairs = corpus.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.8,
                                       round_to=None)
    # max_iter=4 pins convergence speed: near-dup components are tiny
    # (size <= 3 here), so hash-min + pointer jumping must fix in <= 4
    # rounds — a regression guard on the O(log diameter) property
    out = near_dup_clusters(docs, pairs, max_iter=4).collect()
    assert len(out) == docs.count()

    edge_rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    want = _uf_components(ids, edge_rows)
    got = {r["doc_id"]: r["cluster_id"] for r in out}
    assert got == want

    # exactly one survivor per cluster; it is the longest text (ties -> min id)
    lens = {r["doc_id"]: len(r["text"]) for r in docs.select("doc_id", "text").collect()}
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert all(r["cluster_size"] == len(members) for r in members)
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-lens[r["doc_id"]], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
