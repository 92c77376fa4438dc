"""Seeded inputs and their expected outputs for each workload.

Everything here runs in the orchestrator process before any Spark
process starts: the transcripts are drawn from
``fixtures.generate_transcripts(seed)`` and written as parquet files,
and the expectations the output checks need are computed with the
pure-Python reference (``reference_oracle`` / ``rules``).  The Spark
program only ever sees the parquet files.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from medical_pdf__ocr_structured_ccd_ccda_output_spark import (
    fixtures,
    reference_oracle,
    rules,
)

# Turns per workload: all turns for extract_hot, committed (not
# quarantined) turns for pipeline_job.  Whole conversations are taken
# in conv_id order until the target is reached, so every seed gives the
# same amount of work while the mix (conversation lengths, quarantined
# share) still varies with the seed.  On 4 cores extract_hot's steady
# pass takes ~3.3 s, so a run's steady seconds hold several passes;
# pipeline_job's cold job is ~60 s of near-fixed cost (5,500 committed
# turns took ~4 s longer), so more input only lengthens every run.
TARGET_TURNS = {"extract_hot": 3500, "pipeline_job": 2500}
GENERATED_CONVERSATIONS = 2000
SAMPLE_CONVERSATIONS = 24
INPUT_FILES = 8

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _quarantined(turns: list[dict]) -> bool:
    texts = [t["text"] or "" for t in turns]
    return bool(rules.conversation_warnings(
        n_turns=len(turns),
        total_chars=sum(len(x) for x in texts),
        n_nonempty=sum(1 for x in texts if x.strip()),
        has_encrypted=any(rules.ENCRYPTED_MARKER in x for x in texts),
    ))


def expected_turn(turn: dict) -> dict:
    """The checked fields of one turn, from the reference extractor."""
    ref = reference_oracle.extract_turn(turn["text"])
    return {
        "text_clean": ref["text_clean"],
        "confidence": ref["confidence"],
        "sections": ref["sections"],
        "is_boundary": ref["is_boundary"],
    }


def prepare(workload: str, seed: int, input_dir: str, traced: bool) -> dict:
    """Write the workload's transcripts under ``input_dir`` and return
    the expectations and measured input properties as a JSON-able dict."""
    rows = fixtures.generate_transcripts(GENERATED_CONVERSATIONS, seed=seed)
    by_conv: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        by_conv[r["conv_id"]].append(r)
    taken, n = set(), 0
    for conv_id in sorted(by_conv):
        if n >= TARGET_TURNS[workload]:
            break
        taken.add(conv_id)
        if workload == "extract_hot" or not _quarantined(by_conv[conv_id]):
            n += len(by_conv[conv_id])
    if n < TARGET_TURNS[workload]:
        raise RuntimeError(f"seed {seed}: {n} turns, fewer than the target")
    rows = [r for r in rows if r["conv_id"] in taken]
    all_convs, by_conv = by_conv, {c: by_conv[c] for c in taken}
    table_dir = os.path.join(input_dir, "transcripts.parquet")
    os.makedirs(table_dir)
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA)
    step = -(-len(rows) // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(table_dir, f"part-{i:05d}.parquet"))

    quarantined = sorted(c for c, ts in by_conv.items() if _quarantined(ts))
    long_convs = [c for c, ts in by_conv.items()
                  if len(ts) > rules.MAX_TURNS_PER_CONV]
    committed = {c: ts for c, ts in by_conv.items() if c not in quarantined}
    # extract_hot runs no quarantine: every conversation reaches the sink
    checked = by_conv if workload == "extract_hot" else committed

    rng = random.Random(seed)
    sample_ids = sorted(rng.sample(sorted(checked),
                                   min(SAMPLE_CONVERSATIONS, len(checked))))
    sample = _reference_sample(checked, sample_ids)

    n_committed = sum(len(ts) for ts in committed.values())
    spec = {
        "input_dir": input_dir,
        "table_dir": table_dir,
        "sample": sample,
        "expected_rows": sum(len(ts) for ts in checked.values()),
        "properties": {
            "conversations": len(by_conv),
            "turns": len(rows),
            "long_conversation_share": round(len(long_convs) / len(by_conv), 4),
            "turns_in_long_conversations": sum(len(by_conv[c]) for c in long_convs),
            "quarantined_conversations": len(quarantined),
            "quarantined_turn_share": round(1 - n_committed / len(rows), 4),
            "committed_turns": n_committed,
            "sampled_conversations": len(sample_ids),
            "sampled_turns": len(sample),
        },
    }
    if workload == "pipeline_job":
        visits = 0
        for ts in committed.values():
            flags = sorted((t["turn_idx"], rules.is_visit_boundary(
                rules.clean_text(t["text"]))) for t in ts)
            visits += 1 + sum(1 for _, b in flags[1:] if b)
        n_docs = len(committed)
        # sinks whose row count follows from the input alone; the other
        # sinks (checks.PIPELINE_SINKS) are checked for presence and
        # run-to-run equality
        spec["sink_rows"] = {
            "extracted_turns": n_committed,
            "visit_spans": visits,
            "documents": n_docs,
            "data_quality": n_docs,
            "ccd_xml": n_docs,
            "quarantine": len(quarantined),
        }
    # the corpus-dedup and stream-ingest layers run after the passes of a
    # traced worker (phases.py): the corpus on extract_hot, the stream on
    # pipeline_job, so that each traced run stays well within its time
    if traced and workload == "extract_hot":
        spec["corpus"] = prepare_corpus(seed, os.path.join(input_dir, "corpus"))
        spec["properties"]["corpus"] = spec["corpus"]["properties"]
    if traced and workload == "pipeline_job":
        rest = {c: ts for c, ts in all_convs.items() if c not in taken}
        spec["stream"] = prepare_stream(seed, rest, os.path.join(input_dir, "stream"))
        spec["properties"]["stream"] = spec["stream"]["properties"]
    return spec


def _reference_sample(convs: dict[str, list[dict]], ids) -> dict:
    """The checked fields of every turn of the ``ids`` conversations,
    from reference_oracle.extract_turn and reference_oracle.sessionize."""
    sample: dict[str, dict] = {}
    for conv_id in ids:
        turns = [{**t, **expected_turn(t)} for t in convs[conv_id]]
        for t in reference_oracle.sessionize(turns):
            sample[f"{conv_id}|{t['turn_idx']}"] = {
                "text_clean": t["text_clean"],
                "confidence": t["confidence"],
                "sections": t["sections"],
                "visit_id": t["visit_id"],
            }
    return sample


# corpus-dedup layers (traced extract_hot runs only): tools/corpus_probe.py's
# recipe over seeded random-vocabulary documents.  Each base document has
# EXACT byte-identical copies, NEAR copies with a 3-word suffix (Jaccard
# ~0.93 with the base) and UNIQUE copies with a marker every 3rd word
# (Jaccard ~0.2).  The admit batch holds an exact and a near copy of each
# of BATCH_PER_KIND base documents, and as many fresh documents.
CORPUS_BASE_DOCS = 30
CORPUS_EXACT, CORPUS_NEAR, CORPUS_UNIQUE = 5, 5, 10
BATCH_PER_KIND = 20
BATCH_ID0 = 10**9
DOCUMENT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _write_documents(path: str, ids: list[int], texts: list[str]) -> str:
    os.makedirs(path)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}, schema=DOCUMENT_SCHEMA),
                   os.path.join(path, "part-00000.parquet"))
    return path


def prepare_corpus(seed: int, root: str) -> dict:
    rng = random.Random(f"corpus-{seed}")
    vocab = [f"w{rng.getrandbits(24):x}" for _ in range(3000)]

    def doc(lo: int, hi: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))

    base = [doc(40, 120) for _ in range(CORPUS_BASE_DOCS)]
    copies = CORPUS_EXACT + CORPUS_NEAR + CORPUS_UNIQUE
    ids, texts = [], []
    for b, text in enumerate(base):
        words = text.split(" ")
        for c in range(copies):
            ids.append(b * copies + c)
            if c < CORPUS_EXACT:
                texts.append(text)
            elif c < CORPUS_EXACT + CORPUS_NEAR:
                texts.append(f"{text} near {c} suffix")
            else:
                texts.append(" ".join(f"{w} u{c}" if i % 3 == 2 else w
                                      for i, w in enumerate(words)))
    picked = rng.sample(range(CORPUS_BASE_DOCS), BATCH_PER_KIND)
    batch_texts = (
        [base[b] for b in picked]
        + [f"{base[b]} admit tail" for b in picked]
        + [doc(40, 120) for _ in range(BATCH_PER_KIND)]
    )
    kinds = ["exact"] * BATCH_PER_KIND + ["near"] * BATCH_PER_KIND \
        + ["unique"] * BATCH_PER_KIND
    batch_ids = [BATCH_ID0 + j for j in range(len(batch_texts))]
    n, nb = len(ids), len(batch_ids)
    return {
        "documents": _write_documents(os.path.join(root, "documents"), ids, texts),
        "batch": _write_documents(os.path.join(root, "batch"), batch_ids, batch_texts),
        "docs": n,
        "base_docs": CORPUS_BASE_DOCS,
        "copies": copies,
        "exact": CORPUS_EXACT,
        "near": CORPUS_NEAR,
        "unique": CORPUS_UNIQUE,
        "expected_kept": CORPUS_BASE_DOCS * (1 + CORPUS_UNIQUE),
        "kinds": {str(d): k for d, k in zip(batch_ids, kinds)},
        "properties": {
            "documents": n,
            "exact_share": round(CORPUS_BASE_DOCS * CORPUS_EXACT / n, 4),
            "near_share": round(CORPUS_BASE_DOCS * CORPUS_NEAR / n, 4),
            "unique_share": round(CORPUS_BASE_DOCS * CORPUS_UNIQUE / n, 4),
            "batch_documents": nb,
            "batch_exact_share": round(kinds.count("exact") / nb, 4),
            "batch_near_share": round(kinds.count("near") / nb, 4),
            "batch_unique_share": round(kinds.count("unique") / nb, 4),
        },
    }


# stream-ingest layers (traced pipeline_job runs only): whole conversations
# the workload did not take, packed into files of at least
# STREAM_TURNS_PER_FILE turns with distinct conv_ids.  File 0 lands before
# the cold trigger; the others land one every STREAM_INTERVAL_S.
STREAM_FILES = 21
STREAM_TURNS_PER_FILE = 400
STREAM_INTERVAL_S = 0.5
STREAM_SAMPLE_CONVERSATIONS = 8


def prepare_stream(seed: int, convs: dict[str, list[dict]], root: str) -> dict:
    staging = os.path.join(root, "staging")
    os.makedirs(staging)
    files, current, landed = [], [], {}
    for conv_id in sorted(convs):
        if len(files) == STREAM_FILES:
            break
        current.append(conv_id)
        if sum(len(convs[c]) for c in current) >= STREAM_TURNS_PER_FILE:
            files.append(current)
            current = []
    if len(files) < STREAM_FILES:
        raise RuntimeError(f"seed {seed}: too few conversations for the stream files")
    names = []
    for i, ids in enumerate(files):
        name = f"part-{i:05d}.parquet"
        rows = [t for c in ids for t in convs[c]]
        pq.write_table(pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA),
                       os.path.join(staging, name))
        names.append(name)
        landed.update({c: convs[c] for c in ids})
    rng = random.Random(f"stream-{seed}")
    sample_ids = sorted(rng.sample(sorted(landed), STREAM_SAMPLE_CONVERSATIONS))
    turns = sum(len(ts) for ts in landed.values())
    return {
        "staging": staging,
        "files": names,
        "interval_s": STREAM_INTERVAL_S,
        "turns": turns,
        "sample": _reference_sample(landed, sample_ids),
        "properties": {
            "files": len(names),
            "landing_rate_per_s": 1 / STREAM_INTERVAL_S,
            "turns_per_file": round(turns / len(names), 1),
            "conversations": len(landed),
        },
    }
