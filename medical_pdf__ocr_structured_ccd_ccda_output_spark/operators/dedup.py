"""Entity deduplication / merge (SURVEY §2.6 A6-A12).

Two tiers, per the reference's semantics (deduplication_service.py):

* the greedy first-occurrence-wins loop with fuzzy SequenceMatcher
  matching is order-sensitive and mutates during iteration — inherently
  sequential, but only WITHIN one (conv_id, visit_id) group, and groups
  are tiny (tens of entries).  So the group loop runs in
  ``applyInPandas`` (Arrow-batched, one Python call per group batch),
  delegating to the shared pure-Python rule spec in rules.py so the
  oracle and the Spark path share one implementation of the greedy
  semantics.

* group ordering is pinned to (source_page, source_line_in_turn, key)
  — document order — because greedy results depend on it.

The dedup decision log (enterprise improvement #3 analog) is emitted
from the same pass as union-schema rows (row_kind='log') so merge and
log cost one grouped shuffle.  dedup_all() runs every entity kind in
that one pass (one shuffle, one Python-worker pass for all five kinds);
kind_output() and dedup_log() read each kind's rows and the combined
log off it.  dedup_entities() is dedup_all() over a single kind, and
split_dedup_output() separates its entities from its log.
"""

from __future__ import annotations

import json

from ..functions.cleaning import PY_WS
from pyspark.sql import DataFrame, functions as F

from .. import rules

# fill_fields = the kind's *_MERGE_FIELDS ∩ fields: the ONLY columns
# _complete_fields ever fills (result.value is deliberately absent —
# differing lab values become conflicts, never completions).  bump =
# how len(pages) > 1 drives the 0.95 merge_confidence in the rules
# tier: 'all' counts a None source_page (merge_medications /
# merge_lab_results add unfiltered), 'nonnull' excludes None
# (merge_simple), None = the kind never sets it (merge_problems).
_KIND_SPEC = {
    "medication": {
        "key": "name",
        "fields": ["name", "dose", "frequency", "route"],
        "fill_fields": ["dose", "frequency", "route"],
        "bump": "all",
        "merge": rules.merge_medications,
    },
    "problem": {
        "key": "problem",
        "fields": ["problem", "icd10_code", "status"],
        "fill_fields": ["icd10_code", "status"],
        "bump": None,
        "merge": rules.merge_problems,
    },
    "result": {
        "key": "test_name",
        "fields": ["test_name", "value", "unit", "reference_range", "abnormal_flag"],
        "fill_fields": ["unit", "reference_range", "abnormal_flag"],
        "bump": "all",
        "merge": rules.merge_lab_results,
    },
    # list-typed visit fields beyond the reference's dedup service,
    # merged with the same exact+fuzzy first-wins semantics
    "allergy": {
        "key": "substance",
        "fields": ["substance"],
        "fill_fields": [],
        "bump": "nonnull",
        "merge": lambda recs, thr: rules.merge_simple(
            recs, "substance", [], thr, type_name="allergy"),
    },
    "plan": {
        "key": "action",
        "fields": ["action", "category"],
        "fill_fields": ["category"],
        "bump": "nonnull",
        "merge": lambda recs, thr: rules.merge_simple(
            recs, "action", ["category"], thr, type_name="plan"),
    },
}


# merge-output columns every kind shares, after its entity fields
_MERGE_COLUMNS = {
    "source_pages": "array<int>", "source_line_in_turn": "int",
    "merge_confidence": "double",
    "alternative_representations": "array<string>",
    "value_conflicts_json": "string",
}
# decision-log columns: union-schema name -> (dedup_log name, type)
_LOG_COLUMNS = {
    "log_action": ("action", "string"), "log_reason": ("reason", "string"),
    "log_item1": ("item1", "string"), "log_item2": ("item2", "string"),
    "log_similarity": ("similarity", "double"),
    "log_threshold": ("threshold", "double"),
    "log_source_pages": ("source_pages", "array<int>"),
}


def _output_schema(kinds: list[str]) -> str:
    # log columns carry a log_ prefix in the union schema so entity
    # fields can never collide (the plan kind's key IS named 'action');
    # split_dedup_output aliases them back for consumers.  The entity
    # fields of different kinds are distinct, so several kinds share
    # one flat schema.
    cols = {
        "entity_type": "string", "conv_id": "string", "visit_id": "string",
        "row_kind": "string",
        **{f: "string" for k in kinds for f in _KIND_SPEC[k]["fields"]},
        **_MERGE_COLUMNS,
        **{c: t for c, (_, t) in _LOG_COLUMNS.items()},
    }
    return ", ".join(f"{c} {t}" for c, t in cols.items())


def _kind_columns(kind: str) -> list[str]:
    """dedup_entities' output columns for one kind, in schema order."""
    return ["conv_id", "visit_id", "row_kind", *_KIND_SPEC[kind]["fields"],
            *_MERGE_COLUMNS, *_LOG_COLUMNS]


def _log_aliases() -> list:
    return [F.col(c).alias(a) for c, (a, _) in _LOG_COLUMNS.items()]


def _merge_group(kind: str, conv_id, visit_id, records: list[dict],
                 threshold: float, no_fields: dict) -> list[dict]:
    """Union-schema rows (entities, then log entries) of one (conv_id,
    visit_id) group of one kind, in document order; `no_fields` maps
    every entity field of the pass to None."""
    spec = _KIND_SPEC[kind]
    fields = spec["fields"]
    merged, log = spec["merge"](records, threshold)
    no_log = dict.fromkeys(_LOG_COLUMNS)
    out = []
    for m in merged:
        vc = m.get("value_conflicts")
        out.append({
            "entity_type": kind, "conv_id": conv_id, "visit_id": visit_id,
            "row_kind": "entity",
            **no_fields,
            **{f: m.get(f) for f in fields},
            "source_pages": [int(p) for p in m.get("source_pages", [])],
            # base record's document-order ordinal (merge() copies
            # the kept record's fields) — lets renderers sort
            # same-page entities in true document order instead of
            # a pinned 0
            "source_line_in_turn": (
                int(m["source_line_in_turn"])
                if m.get("source_line_in_turn") is not None else None
            ),
            "merge_confidence": m.get("merge_confidence"),
            "alternative_representations": m.get("alternative_representations"),
            "value_conflicts_json": json.dumps(vc) if vc else None,
            **no_log,
        })
    for entry in log:
        out.append({
            "entity_type": kind, "conv_id": conv_id, "visit_id": visit_id,
            "row_kind": "log",
            **no_fields,
            "source_pages": None, "source_line_in_turn": None,
            "merge_confidence": None,
            "alternative_representations": None,
            "value_conflicts_json": None,
            "log_action": entry["action"],
            "log_reason": entry["reason"],
            "log_item1": entry["item1"], "log_item2": entry["item2"],
            "log_similarity": entry["similarity"],
            "log_threshold": entry["threshold"],
            "log_source_pages": [int(p) for p in entry["source_pages"]
                                 if p is not None],
        })
    return out


def dedup_all(entities: dict[str, DataFrame],
              threshold: float = rules.FUZZY_THRESHOLD,
              buckets: int | None = None) -> DataFrame:
    """Greedy dedup per (kind, conv_id, visit_id) of several entity
    kinds in ONE grouped pass; `entities` maps a _KIND_SPEC kind to its
    entity frame.  Returns union-schema rows: `entity_type` (the kind),
    row_kind in {'entity','log'}, every kind's entity fields, the merge
    columns and the log_* columns.  kind_output() / dedup_log() read the
    sinks off it; cache it when more than one of them is consumed.

    Execution is BUCKETED: the shuffle key is a hash bucket of
    (conv_id, visit_id) and each Python call processes every group of
    every kind in its bucket.  One Arrow batch + one function call per
    (conv,visit) group costs ~5 ms of serialization overhead regardless
    of group size — fatal when groups are tiny and plentiful (the
    common case: tens of entities per visit, millions of visits).
    Bucketing amortizes that to one call per bucket (measured 10.5 s ->
    ~0.6 s on the 2 000-group contract query) and the bucket key is
    uniform, so no logical hot key can skew the shuffle.  Fusing the
    kinds makes that one shuffle and one Python-worker pass for all of
    them instead of one per kind.  A bucket holds the same rows of a
    kind whether the kind runs alone or fused, so both give the same
    groups in the same order."""
    import pandas as pd
    from pyspark.sql.types import IntegralType

    kinds = list(entities)
    no_fields = dict.fromkeys(f for k in kinds for f in _KIND_SPEC[k]["fields"])
    columns = {k: df.columns for k, df in entities.items()}
    int_columns = {c for df in entities.values() for c in df.schema.fieldNames()
                   if isinstance(df.schema[c].dataType, IntegralType)}

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        from itertools import groupby as igroupby

        out: list[dict] = []
        for kind in kinds:
            sub = pdf.loc[pdf["_kind"] == kind, columns[kind]]
            if sub.empty:
                continue
            # Arrow hands an integer column with a null anywhere in the
            # bucket over as float64; restore the integer dtype when
            # this kind's rows have none, as a bucket of the kind alone
            # would have it
            sub = sub.astype({
                c: "int64" for c in int_columns.intersection(sub.columns)
                if sub[c].dtype.kind == "f" and sub[c].notna().all()
            })
            sort_cols = [c for c in ("source_page", "source_line_in_turn")
                         if c in sub.columns]
            # one global sort, ONE to_dict over the kind's rows (a
            # to_dict per tiny group costs ~1 ms each and dominated the
            # pass), then consecutive-key grouping — document order
            # inside each group is preserved by the stable sort (greedy
            # results depend on it)
            sub = sub.sort_values(
                ["conv_id", "visit_id"] + sort_cols + [_KIND_SPEC[kind]["key"]],
                kind="mergesort",
            )
            sub = sub.astype(object).where(pd.notna(sub), None)
            for (conv_id, visit_id), rec_iter in igroupby(
                    sub.to_dict("records"),
                    key=lambda r: (r["conv_id"], r["visit_id"])):
                out += _merge_group(kind, conv_id, visit_id, list(rec_iter),
                                    threshold, no_fields)
        return pd.DataFrame(out)

    union = None
    for kind, df in entities.items():
        tagged = df.withColumn("_kind", F.lit(kind))
        union = tagged if union is None else union.unionByName(
            tagged, allowMissingColumns=True)
    if buckets is None:
        # one bucket per shuffle partition: buckets ARE the tasks of the
        # grouped-map stage, so this matches the session's configured
        # parallelism; raise it explicitly for very large clusters
        buckets = int(union.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    bucketed = union.withColumn(
        "_bucket", F.pmod(F.xxhash64("conv_id", "visit_id"), F.lit(buckets))
    )
    return bucketed.groupBy("_bucket").applyInPandas(
        per_bucket, schema=_output_schema(kinds)
    )


def kind_output(fused: DataFrame, kind: str) -> DataFrame:
    """One kind's rows of dedup_all output, in dedup_entities' schema."""
    return fused.filter(F.col("entity_type") == kind).select(*_kind_columns(kind))


def dedup_entities(entities: DataFrame, kind: str,
                   threshold: float = rules.FUZZY_THRESHOLD,
                   buckets: int | None = None) -> DataFrame:
    """Greedy dedup per (conv_id, visit_id) of one kind; returns
    union-schema rows (row_kind in {'entity','log'}).  Use
    split_dedup_output() after.  This is dedup_all over the one kind
    (same bucketed pass, same per-bucket code)."""
    return kind_output(dedup_all({kind: entities}, threshold, buckets), kind)


def split_dedup_output(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(merged_entities, decision_log) of one kind's union-schema rows
    (dedup_entities or kind_output output) — cache `combined` upstream
    if both sides are consumed.  A pipeline that dedups several kinds
    runs dedup_all once, caches it, splits each kind's kind_output with
    this and reads every kind's log at once with dedup_log."""
    ent = combined.filter(F.col("row_kind") == "entity").drop(
        "row_kind", *_LOG_COLUMNS)
    log = combined.filter(F.col("row_kind") == "log").select(
        "conv_id", "visit_id", *_log_aliases())
    return ent, log


def dedup_log(fused: DataFrame) -> DataFrame:
    """Every kind's decision log from dedup_all output: split_dedup_output's
    log columns plus the kind as `entity_type`, last."""
    return fused.filter(F.col("row_kind") == "log").select(
        "conv_id", "visit_id",
        *_log_aliases(),
        "entity_type",
    )


def exact_dedup_sql(entities: DataFrame, kind: str) -> DataFrame:
    """Exact-tier-only dedup as pure SQL aggregates (no Python) — the
    scale path when fuzzy matching is disabled: group on the normalized
    key, first occurrence wins, union source pages, and field completion
    with the rules tier's exact semantics (round-3 review fix):

    * only the kind's fill_fields complete (_complete_fields is called
      with *_MERGE_FIELDS — notably result.value NEVER fills; differing
      values are conflicts, not completions);
    * a falsy base value ('' as well as NULL) counts as missing, and the
      filler must itself be non-falsy;
    * the 0.95 merge_confidence bump follows the kind's rules tier:
      problems never bump, meds/results count a None source_page toward
      the multi-page test, allergy/plan exclude None (merge_simple).

    Greedy parity holds for the exact tier because exact-match groups
    are equivalence classes — order only affects which occurrence is
    'first', pinned here by (source_page, source_line_in_turn).
    """
    spec = _KIND_SPEC[kind]
    key, fields = spec["key"], spec["fields"]
    fill_fields = spec["fill_fields"]
    # PY_WS: rules.normalize_term collapses PYTHON-unicode whitespace
    # (after the collapse only plain spaces remain, so F.trim == .strip());
    # coalesce: normalize_term(None) == '' — a NULL key groups with ''
    norm = F.trim(F.regexp_replace(
        F.lower(F.coalesce(F.col(key), F.lit(""))), f"{PY_WS}+", " "
    ))
    order_keys = [c for c in ("source_page", "source_line_in_turn")
                  if c in entities.columns]
    ordered_struct = F.struct(*order_keys, *[F.col(f) for f in fields])

    def _filled(f: str):
        first = F.col(f"_first.{f}")
        if f not in fill_fields:
            return first.alias(f)
        # base falsy -> first non-falsy occurrence, else keep base as-is
        # (coalesce tail keeps '' when nothing can fill it)
        return F.coalesce(
            F.nullif(first, F.lit("")), F.col(f"_fill_{f}"), first
        ).alias(f)

    agg = (
        entities.withColumn("_norm_key", norm)
        .groupBy("conv_id", "visit_id", "_norm_key")
        .agg(
            F.min(ordered_struct).alias("_first"),
            *[
                F.min(
                    F.when(
                        F.col(f).isNotNull() & (F.col(f) != ""),
                        F.struct(*order_keys, F.col(f)),
                    )
                )[f].alias(f"_fill_{f}")
                for f in fill_fields
            ],
            F.array_sort(F.collect_set("source_page")).alias("source_pages"),
            # any-null flag must aggregate over the GROUP, not _first
            F.max(F.col("source_page").isNull().cast("int")).alias("_has_null_page")
            if "source_page" in order_keys else F.lit(0).alias("_has_null_page"),
            F.count("*").alias("occurrences"),
        )
    )
    if spec["bump"] == "all":
        # rules' pages set is seeded/extended unfiltered, so a None
        # source_page is a distinct member for the len(pages) > 1 test
        n_pages = F.size("source_pages") + F.col("_has_null_page")
    elif spec["bump"] == "nonnull":
        n_pages = F.size("source_pages")
    else:
        n_pages = F.lit(1)
    return agg.select(
        "conv_id", "visit_id",
        F.col(f"_first.{key}").alias(key),
        *[_filled(f) for f in fields if f != key],
        "source_pages",
        F.when(n_pages > 1, 0.95).alias("merge_confidence"),
        "occurrences",
    )
