"""Output checks.  An operation whose check fails counts as failed."""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow.parquet as pq

CHECKED_FIELDS = ("text_clean", "confidence", "sections", "visit_id")

# The sinks job.main writes.  inputs.py derives the expected row counts
# of some of them; tracing.py maps their writes to layers.
ENTITY_SINKS = ("medications", "problems", "lab_results", "vitals",
                "allergies", "plan_items")
# vitals are not merged by dedup, so they have no dedup_log rows
DEDUPED_SINKS = tuple(s for s in ENTITY_SINKS if s != "vitals")
PIPELINE_SINKS = (
    "extracted_turns", "visit_spans", "documents", *ENTITY_SINKS,
    "dedup_log", "ccd_xml", "quarantine", "data_quality", "metrics",
    "lineage_extracted_turns",
)


def _plain(v):
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def compare_sample(sample: dict, rows) -> dict:
    """Per-turn equality of ``rows`` (dicts with conv_id, turn_idx and the
    checked fields) against the reference ``sample``.  A sampled turn
    missing from ``rows`` counts as unequal."""
    got = {f"{r['conv_id']}|{r['turn_idx']}": r for r in rows}
    equal, mismatch = 0, None
    for key, want in sample.items():
        row = got.get(key)
        if row is not None and all(
            _plain(row[f]) == want[f] for f in CHECKED_FIELDS
        ):
            equal += 1
        elif mismatch is None:
            mismatch = key
    return {"checked": len(sample), "equal": equal, "first_mismatch": mismatch}


def sample_convs(sample: dict) -> list[str]:
    return sorted({k.split("|")[0] for k in sample})


def parquet_rows(table_dir: str) -> int | None:
    """Row count of a parquet table directory from its footers, or None
    when the table was not written."""
    if not os.path.isdir(table_dir):
        return None
    return sum(
        pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
        for f in os.listdir(table_dir) if f.endswith(".parquet")
    )


def _read_sample(table_dir: str, sample: dict) -> list[dict]:
    return pq.read_table(
        table_dir, columns=["conv_id", "turn_idx", *CHECKED_FIELDS],
        filters=[("conv_id", "in", sample_convs(sample))],
    ).to_pylist()


def check_pipeline_output(out_dir: str, spec: dict) -> dict:
    """Every sink exists, the input-determined sinks have their expected
    row counts, and the sampled turns equal the reference."""
    counts, problems = {}, []
    for name in PIPELINE_SINKS:
        n = parquet_rows(os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = n
        want = spec["sink_rows"].get(name)
        if n is None:
            problems.append(f"{name}: missing")
        elif want is not None and n != want:
            problems.append(f"{name}: {n} rows, expected {want}")
    rows = []
    if counts["extracted_turns"] is not None:
        rows = _read_sample(os.path.join(out_dir, "extracted_turns.parquet"),
                            spec["sample"])
    eq = compare_sample(spec["sample"], rows)
    if eq["equal"] != eq["checked"]:
        problems.append(f"turn mismatch at {eq['first_mismatch']}")
    return {"counts": counts, "problems": problems, "equality": eq}


def check_corpus_build(out_dir: str, corpus: dict) -> list[str]:
    """One survivor per exact/near family and every unique copy kept."""
    problems = []
    n_dec = parquet_rows(os.path.join(out_dir, "dedup_decisions.parquet"))
    if n_dec != corpus["docs"]:
        problems.append(f"dedup_decisions: {n_dec} rows, expected {corpus['docs']}")
    kept_dir = os.path.join(out_dir, "kept_documents.parquet")
    if not os.path.isdir(kept_dir):
        return problems + ["kept_documents: missing"]
    kept = pq.read_table(kept_dir, columns=["doc_id"]).column("doc_id").to_pylist()
    per_family, unique = defaultdict(int), 0
    for d in kept:
        base, copy = divmod(d, corpus["copies"])
        if copy < corpus["exact"] + corpus["near"]:
            per_family[base] += 1
        else:
            unique += 1
    if len(kept) != corpus["expected_kept"]:
        problems.append(f"kept_documents: {len(kept)} rows, "
                        f"expected {corpus['expected_kept']}")
    if sorted(per_family.values()) != [1] * corpus["base_docs"]:
        problems.append("a duplicate family does not keep exactly one document")
    if unique != corpus["base_docs"] * corpus["unique"]:
        problems.append(f"{unique} unique copies kept, expected "
                        f"{corpus['base_docs'] * corpus['unique']}")
    return problems


def check_admit(out_dir: str, corpus: dict, inc_id: str) -> tuple[list[str], dict]:
    """Exact and near copies of corpus documents are dropped, fresh
    documents are kept.  Returns the problems and the kept/batch counts."""
    path = os.path.join(out_dir, f"inc_decisions_{inc_id}.parquet")
    if not os.path.isdir(path):
        return [f"inc_decisions_{inc_id}: missing"], {"kept": 0, "batch": 0}
    rows = pq.read_table(path, columns=["doc_id", "keep"]).to_pylist()
    kinds = corpus["kinds"]
    wrong = [r["doc_id"] for r in rows
             if r["keep"] != (kinds[str(r["doc_id"])] == "unique")]
    problems = []
    if len(rows) != len(kinds):
        problems.append(f"{len(rows)} admit decisions, expected {len(kinds)}")
    if wrong:
        problems.append(f"{len(wrong)} admit decisions wrong, first doc {wrong[0]}")
    return problems, {"kept": sum(r["keep"] for r in rows), "batch": len(rows)}


def check_stream(out_dir: str, stream: dict) -> tuple[list[str], dict]:
    """Every landed turn committed exactly once; sampled turns equal the
    reference."""
    problems = []
    rows = []
    if os.path.isdir(out_dir):
        rows = pq.read_table(out_dir, columns=["conv_id", "turn_idx"]).to_pylist()
    keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
    if len(rows) != len(keys):
        problems.append(f"{len(rows) - len(keys)} turns committed more than once")
    if len(keys) != stream["turns"]:
        problems.append(f"{len(keys)} distinct turns committed, "
                        f"{stream['turns']} landed")
    got = _read_sample(out_dir, stream["sample"]) if rows else []
    eq = compare_sample(stream["sample"], got)
    if eq["equal"] != eq["checked"]:
        problems.append(f"turn mismatch at {eq['first_mismatch']}")
    return problems, eq
