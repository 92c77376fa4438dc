"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries": {...}, "sf", ...}.

The headline metric is extraction throughput (turns/sec) over a
synthetic transcripts table scaled to the SF (generated once into a
parquet dir so every run reads columnar input like production).

Extra (not part of the JSON contract, appended as keys):
  * scaling: same extraction job at local[8] vs local[32] when
    SPARK_GRAFT_SCALING=1 — evidences the N->4N scaling-efficiency
    criterion in-sandbox (see BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

# transcripts corpus size by SF (conversations); ~20 turns/conv avg
N_CONVS = {"0.001": 60, "0.01": 400, "0.1": 2500}.get(SF, 400)

TRANSCRIPTS_CACHE = os.path.join(
    REPO, ".bench_cache", f"transcripts_sf{SF}.parquet"
)


def _ensure_transcripts(spark):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import tune_scan_splits
    if not os.path.exists(TRANSCRIPTS_CACHE):
        from medical_pdf__ocr_structured_ccd_ccda_output_spark import fixtures
        df = fixtures.transcripts_spark_df(spark, N_CONVS, seed=42)
        df.repartition(32).write.mode("overwrite").parquet(TRANSCRIPTS_CACHE)
    # size scan splits to the bench corpora: under the default 128MB
    # splits + 4MB open cost, the sf0.1 cache read as 1-2 partitions and
    # the compute-heavy map side (Arrow extractor, md5/norm, shingler)
    # ran that narrow regardless of cores (see session.tune_scan_splits)
    tune_scan_splits(spark, TRANSCRIPTS_CACHE, SF_DIR)
    return spark.read.parquet(TRANSCRIPTS_CACHE)


def _materialize(df) -> int:
    """Force FULL computation of every column (count() would let
    Catalyst prune the expensive expressions away) without paying for a
    real sink: noop write + an observed row count."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop") \
        .mode("overwrite").save()
    return obs.get["rows"]


def _extraction_job(spark, transcripts):
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import extract_turns
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.sessionize import assign_visits
    out = assign_visits(extract_turns(transcripts, with_sections=True))
    return _materialize(out)


def _timed(fn, *a):
    t0 = time.time()
    r = fn(*a)
    return r, time.time() - t0


def _spin(workers: int, seconds: float = 1.0) -> int:
    """Total pure-CPU spin iterations across `workers` processes —
    the co-tenant-contention probe (also used by the scaling leg)."""
    import multiprocessing as mp

    q = mp.Queue()

    def w(q):
        import time as _t
        end = _t.time() + seconds
        x = n_iter = 0
        while _t.time() < end:
            for _ in range(10000):
                x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            n_iter += 10000
        q.put(n_iter)

    ps = [mp.Process(target=w, args=(q,)) for _ in range(workers)]
    [p.start() for p in ps]
    total = sum(q.get() for _ in ps)
    [p.join() for p in ps]
    return total


def _contention_probe(cpus: int) -> dict:
    """How much of the box do we actually have right now?

    spin(cpus) / (cpus * spin(1)) ≈ fraction of the advertised cores
    this process can really use: ~1.0 idle, < 1 when co-tenants are
    burning cores (shared-vCPU swings of 2-6x on unchanged code were
    the round-2/3 headline artifacts — see BENCH.md 'Run-to-run
    variance').  One spin(1) call always gets a whole core, so the
    ratio needs no cross-run calibration constant."""
    one = _spin(1)
    many = _spin(cpus)
    return {
        "avail_core_ratio": round(many / (cpus * one), 3) if one else None,
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def main():
    from pyspark.sql import functions as F

    from medical_pdf__ocr_structured_ccd_ccda_output_spark.session import get_spark
    import __spark_entry__ as entry

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    transcripts = _ensure_transcripts(spark)
    n_turns = transcripts.count()

    timings: dict[str, float] = {}

    # headline: extraction + sessionization throughput.  The generated
    # whole-stage-codegen methods take several invocations before the C2
    # JIT compiles them (first runs are 10-20x slower) — irrelevant at
    # production scale where a job runs minutes per stage, so the bench
    # warms until the timing stabilizes and reports steady state.
    warm = [_timed(_extraction_job, spark, transcripts)[1] for _ in range(4)]
    # Contention defense (round-3 review item): the driver keeps THIS
    # number, and rounds 2/3 both recorded co-tenant capacity swings on
    # unchanged code.  Gate each measurement window on a spin-probe
    # available-core ratio + rep spread; on a dirty window, sleep and
    # re-measure.
    n_reps = 5  # shared vCPUs are noisy; min-of-5 damps co-tenant spikes
    # Round-4 postmortem: a window that skimmed the old limits (spread
    # 1.376 vs 1.4) understated the headline by a third vs the same
    # code minutes later, so the gate is tight (spread <= 1.2).  The
    # headline is the min of the accepted window's reps alone, so a busy
    # host (up to five windows) and an idle one (one window) take a min
    # over the same number of reps.  When no window is clean, the last
    # one's min is reported and the result says "contended": true.
    attempts = []
    for attempt in range(5):
        probe = _contention_probe(CPUS)
        dts = [_timed(_extraction_job, spark, transcripts)[1]
               for _ in range(n_reps)]
        spread = max(dts) / min(dts)
        attempts.append({**probe, "reps_sec": [round(x, 3) for x in dts],
                         "spread": round(spread, 3)})
        ratio = probe["avail_core_ratio"]
        clean_window = (ratio is None or ratio >= 0.75) and spread <= 1.2
        if clean_window:
            break
        time.sleep(15)
    dt = min(dts)
    timings["extraction_pipeline"] = round(dt, 3)
    throughput = n_turns / dt if dt else 0.0

    # representative operator queries at this SF (1 warm-up rep pays
    # planning + codegen JIT; report min of 2 steady-state reps)
    qs = entry.queries()
    for name in [
        "clean_extract", "confidence", "exact_dedup", "minhash_lsh_pairs",
        "quality_scores", "token_counts", "ann_bruteforce", "ann_lsh",
        "pricing_summary", "top_orders", "region_revenue",
        "sessionize_events", "topk_per_group",
        # round-2 operators
        "vitals_extract", "ingest_quarantine", "problems_merge",
        "ccd_xml_entities", "ngram_jaccard_banded",
        # round-3 operators
        "human_doc", "media_features_wav", "near_dup_clusters",
        # round-4: the staged corpus-dedup DAG + the incremental
        # batch-vs-index path (production xxhash64 tiers)
        "corpus_dedup_pipeline_prod", "incremental_dedup_prod",
        # round-5: training-data prep + hygiene + native sessions
        "corpus_profile", "hash_split", "pack_manifest", "corpus_mix",
        "decontaminate", "repetition_stats", "redact_pii",
        "session_window_rollup", "top_ngrams", "salient_terms",
        "containment_pairs", "dedup_spans",
        "line_boilerplate", "lm_quality", "semantic_dedup",
        "corpus_curation",
    ]:
        df = qs[name](spark, SF_DIR)
        _materialize(df)
        dt = min(_timed(lambda d=df: _materialize(d))[1] for _ in range(3))
        timings[name] = round(dt, 3)

    # Per-turn equality pass rate (the north metric's correctness half):
    # extract_turns' Arrow UDF vs reference_oracle.extract_turn, the
    # pure-Python rule spec run in this process, over the whole
    # corpus, turn by turn under (conv_id, turn_idx).
    from medical_pdf__ocr_structured_ccd_ccda_output_spark import reference_oracle
    from medical_pdf__ocr_structured_ccd_ccda_output_spark.operators.extract import (
        extract_turns,
    )

    key = ["conv_id", "turn_idx"]
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in extract_turns(transcripts, with_sections=False)
        .select(*key, "text_clean", "confidence").collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]):
            reference_oracle.extract_turn(r["text"], with_sections=False)
        for r in transcripts.select(*key, "text").collect()
    }

    def pass_rate(field):
        same = sum(k in got and got[k][field] == w[field]
                   for k, w in want.items())
        return round(same / len(want), 6)

    equality = {
        "text_pass_rate": pass_rate("text_clean"),
        "confidence_pass_rate": pass_rate("confidence"),
        "n_turns": n_turns,
    }

    result = {
        "metric": "extraction_throughput",
        "value": round(throughput, 1),
        "unit": "turns/sec",
        "queries": timings,
        "sf": SF,
        "n_turns": n_turns,
        "cpus": CPUS,
        "per_turn_equality": equality,
        "contention": {"attempts": attempts, "clean_window": clean_window},
    }
    if not clean_window:
        result["contended"] = True

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        # Same job, two parallelism levels, same input -> scaling
        # efficiency: the in-sandbox analog of N vs 4N executors.
        # Methodology (see BENCH.md):
        #  * corpus multiplied so compute dominates scheduling overheads
        #    (the regime a 100 TB job runs in);
        #  * each level runs in a FRESH JVM pinned (taskset) to a CPU
        #    set of exactly its size — otherwise the local[8] job's
        #    python workers + GC/shuffle threads spill onto the other
        #    24 cores and inflate the small-N baseline, which a real
        #    8-node cluster could not do;
        #  * a pure-CPU spin probe measures the host's own 8->32
        #    scaling ceiling (shared/virtualized cores ≠ 4x the
        #    silicon), reported alongside for calibration.
        import subprocess

        mult = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "80"))
        big_path = os.path.join(REPO, ".bench_cache", f"transcripts_sf{SF}_x{mult}.parquet")
        if not os.path.exists(big_path):
            t = spark.read.parquet(TRANSCRIPTS_CACHE)
            copies = F.explode(F.array(*[F.lit(i) for i in range(mult)])).alias("copy")
            big = t.select(copies, "*").withColumn(
                "conv_id", F.concat_ws("#", "conv_id", F.col("copy").cast("string"))
            ).drop("copy")
            big.repartition(128).write.mode("overwrite").parquet(big_path)
        spark.stop()

        def probe(n, pin):
            cmd = ["python", os.path.join(REPO, "tools", "scaling_probe.py"),
                   str(n), big_path]
            if pin:
                cmd = ["taskset", "-c", f"0-{n-1}"] + cmd
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
            return json.loads(out.stdout.strip().splitlines()[-1])

        lo, hi = (int(x) for x in
                  os.environ.get("SPARK_GRAFT_SCALE_PAIR", "8,32").split(","))
        r_lo = probe(lo, pin=True)
        r_hi = probe(hi, pin=hi < 32)  # pin unless the leg owns the box
        eff = (r_lo["best_sec"] / r_hi["best_sec"]) / (hi / lo)

        ceiling = (_spin(hi, 3.0) / _spin(lo, 3.0)) / (hi / lo)
        result["scaling"] = {
            "pair": [lo, hi],
            "n_turns": r_lo["n_turns"],
            f"t_local{lo}_sec": r_lo["best_sec"],
            f"t_local{hi}_sec": r_hi["best_sec"],
            f"throughput_local{lo}": r_lo["throughput_turns_per_sec"],
            f"throughput_local{hi}": r_hi["throughput_turns_per_sec"],
            "speedup": round(r_lo["best_sec"] / r_hi["best_sec"], 3),
            "efficiency": round(eff, 3),
            "cpu_ceiling": round(ceiling, 3),
            "efficiency_vs_ceiling": round(eff / ceiling, 3) if ceiling else None,
            f"times_local{lo}": r_lo["times_sec"],
            f"times_local{hi}": r_hi["times_sec"],
        }

    print(json.dumps(result))


if __name__ == "__main__":
    main()
