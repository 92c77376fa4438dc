"""End-to-end pipeline: transcripts -> extracted_turns, visit_spans,
entities (+dedup log), doc rollups, metrics, lineage, CCD XML.

Shuffle budget (the thing that matters at 100 TB):
  stage 1  narrow extraction: one Arrow UDF running rules.py per
           batch, pipelined with the scan (operators/extract.py)
  stage 2  ONE shuffle on conv_id for the ordering window (or the
           skew-aware bucketed variant's (conv_id,bucket) shuffles)
  stage 3  groupBy rollups reuse the conv_id partitioning where
           possible; entity dedup is ONE shuffle on a (conv_id,
           visit_id) bucket for all five kinds (dedup_all), whose
           output every entity sink, the dedup log and the XML read
Lineage + metrics ride on the same DataFrames (no extra scans besides
the small aggregates).

The plan is built by two builders; the whole pipeline is
``build_outputs(spark, prepare_turns(...))``:
  prepare_turns  quality aggregate, quarantine, extract, sessionize:
                 everything the extracted_turns sink needs (TurnsStage)
  build_outputs  everything downstream of the turns: visits, rollups,
                 entities + fused dedup, lineage, CCD XML, narrative
                 (PipelineResult)
Both only build plans; neither runs a Spark job.  ``job.main`` calls
them separately so the extracted_turns write, which needs only the
first, runs while the driver builds the second.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import rules
from .operators.dedup import dedup_all, dedup_log, kind_output, split_dedup_output
from .operators.entities import (
    extract_allergies,
    extract_lab_results,
    extract_medications,
    extract_plan_items,
    extract_problems,
    extract_visit_texts,
    extract_vitals,
)
from .operators.extract import extract_turns, rules_udf
from .operators.rollups import (
    data_quality_rollup,
    document_rollup,
    stage_metrics,
)
from .operators.sessionize import (
    assign_visits,
    assign_visits_skew_aware,
    visit_rollup,
)
from .renderers.xml import entity_sections, render_ccd_xml
from .sources.lineage import lineage_rows


@dataclass
class PipelineResult:
    extracted_turns: DataFrame
    visit_spans: DataFrame
    documents: DataFrame
    medications: DataFrame
    problems: DataFrame
    lab_results: DataFrame
    dedup_log: DataFrame
    metrics: DataFrame
    vitals: DataFrame
    allergies: DataFrame
    plan_items: DataFrame
    data_quality: DataFrame
    lineage: dict[str, DataFrame] = field(default_factory=dict)
    ccd_xml: DataFrame | None = None
    narrative: DataFrame | None = None
    quarantine: DataFrame | None = None
    # frames every sink above shares, in dependency order: persisting
    # them in this order lets each cached plan embed the caches before it
    to_persist: list[DataFrame] = field(default_factory=list)


def conversation_quality(transcripts: DataFrame) -> DataFrame:
    """P1 ingest validation (pdf_service.py:28-99 analog) as one map-side-
    combinable aggregate per conversation: turn-count bounds, total size,
    emptiness, encrypted marker.  Returns (conv_id, n_turns, total_chars,
    n_nonempty, warnings array, quarantined bool); the warnings are
    rules.conversation_warnings of the aggregate."""
    from .functions.cleaning import PY_NONWS as _PY_NONWS

    txt = F.coalesce(F.col("text"), F.lit(""))
    agg = transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length(txt)).cast("long").alias("total_chars"),
        # "non-empty" = has non-whitespace content, consistent with
        # clean_text's .strip()-based empty check (a tab-only page must
        # not count as a real page); PY_NONWS, not \S — Python .strip()
        # treats NBSP etc. as whitespace, Java \S does not
        F.count(F.when(txt.rlike(_PY_NONWS), 1)).alias("n_nonempty"),
        F.max(txt.contains(rules.ENCRYPTED_MARKER)).alias("_has_encrypted"),
    )
    warnings = rules_udf(rules.conversation_warnings,
                         T.ArrayType(T.StringType(), False))(
        "n_turns", "total_chars", "n_nonempty", "_has_encrypted")
    return agg.select(
        "conv_id", "n_turns", "total_chars", "n_nonempty",
        warnings.alias("warnings"),
        (F.size(warnings) > 0).alias("quarantined"),
    )


def apply_quarantine(transcripts: DataFrame, quality: DataFrame
                     ) -> tuple[DataFrame, DataFrame]:
    """(clean_turns, quarantine_rows) for ``quality``, the
    conversation_quality of ``transcripts``.  The quarantined-conversation
    list is expected to be tiny relative to the corpus, so the turn-level
    filter is a broadcast anti/semi join on conv_id — no extra shuffle
    of the big side."""
    bad = quality.filter(F.col("quarantined")).select("conv_id")
    clean = transcripts.join(F.broadcast(bad), "conv_id", "left_anti")
    return clean, quality.filter(F.col("quarantined"))


@dataclass
class TurnsStage:
    """prepare_turns' output: the sessionized turn plan, and with
    validation on, the per-conversation quality aggregate and the
    quarantine frame over it."""
    turns: DataFrame
    quality: DataFrame | None = None
    quarantine: DataFrame | None = None

    @property
    def to_persist(self) -> list[DataFrame]:
        """The frames every sink shares, in dependency order (the turn
        plan's anti-join reads the quality aggregate)."""
        return [df for df in (self.quality, self.turns) if df is not None]


def prepare_turns(transcripts: DataFrame,
                  skew_aware: bool = False,
                  with_validation: bool = True) -> TurnsStage:
    """Quality aggregate + quarantine, extraction and sessionization:
    the plan of the extracted_turns sink and the input of build_outputs."""
    quality = quarantine = None
    if with_validation:
        # one aggregate feeds both the anti-join's broadcast side and the
        # quarantine sink
        quality = conversation_quality(transcripts)
        transcripts, quarantine = apply_quarantine(transcripts, quality)
    extracted = extract_turns(transcripts, with_sections=True)
    if skew_aware:
        turns = assign_visits_skew_aware(extracted)
    else:
        turns = assign_visits(extracted)
    return TurnsStage(turns, quality, quarantine)


def build_outputs(spark: SparkSession, stage: TurnsStage,
                  run_id: str = "run_0",
                  include_raw_text: bool = True,
                  with_narrative: bool = False,
                  max_text_chars: int | None = None) -> PipelineResult:
    """Every sink's plan over ``stage``'s turns.  ``to_persist`` is the
    stage's frames followed by the fused dedup output."""
    turns = stage.turns
    to_persist = stage.to_persist
    visits = visit_rollup(turns, include_raw_text=include_raw_text,
                          max_text_chars=max_text_chars)
    # schema-validation warnings stage (raising Pydantic validators ->
    # flagged rows; canonical_schema.py:182-208,286-292)
    warnings = rules_udf(rules.visit_warnings,
                         T.ArrayType(T.StringType(), False))
    visits = visits.withColumn(
        "schema_warnings",
        warnings(F.col("visit_id"), F.col("confidence"), F.col("turn_count")),
    )
    data_quality = data_quality_rollup(turns)
    docs = document_rollup(turns, include_combined_text=include_raw_text,
                           max_text_chars=max_text_chars)
    metrics = stage_metrics(turns)

    fused = dedup_all({
        "medication": extract_medications(turns),
        "problem": extract_problems(turns),
        "result": extract_lab_results(turns),
        "allergy": extract_allergies(turns),
        "plan": extract_plan_items(turns),
    })
    to_persist.append(fused)
    meds, probs, labs, alls, plans = (
        split_dedup_output(kind_output(fused, kind))[0]
        for kind in ("medication", "problem", "result", "allergy", "plan")
    )
    log = dedup_log(fused)
    vits = extract_vitals(turns)

    lineage = {
        "extracted_turns": lineage_rows(
            turns, run_id, "extract+sessionize", ["conv_id", "turn_idx", "text_clean"]
        ),
    }

    xml = None
    narrative = None
    if include_raw_text or with_narrative:
        def _first_page(df: DataFrame) -> DataFrame:
            # deduped entities carry the merged source_pages set; the
            # render sort key is the first (earliest) page plus the kept
            # record's intra-turn line ordinal, so same-page entities
            # render in true document/dedup-output order (not
            # content-lexicographic — round-2 ADVICE fix)
            return df.withColumn(
                "source_page", F.element_at("source_pages", 1)
            ).withColumn(
                "source_line_in_turn",
                F.coalesce(F.col("source_line_in_turn"), F.lit(0)),
            )

        ent_kw = dict(
            medications=_first_page(meds),
            problems=_first_page(probs),
            vitals=vits,
            results=_first_page(labs),
            plan=_first_page(plans),
            visit_texts=extract_visit_texts(turns),
        )
        if include_raw_text:
            xml = render_ccd_xml(visits, sections=entity_sections(**ent_kw))
        if with_narrative:
            from .renderers.text import narrative_sections, render_narrative

            narrative = render_narrative(
                visits, sections=narrative_sections(**ent_kw))

    return PipelineResult(
        extracted_turns=turns,
        visit_spans=visits,
        documents=docs,
        medications=meds,
        problems=probs,
        lab_results=labs,
        dedup_log=log,
        metrics=metrics,
        lineage=lineage,
        ccd_xml=xml,
        narrative=narrative,
        quarantine=stage.quarantine,
        vitals=vits,
        allergies=alls,
        plan_items=plans,
        data_quality=data_quality,
        to_persist=to_persist,
    )
