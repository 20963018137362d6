#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}.

Dispersion methodology (v6 per r7 verdict; v7 adds a full untimed
target-scale warmup pass before rep 1 per the r8 verdict, so every
timed rep is warm and the band is pure host noise): this box's
wall-clock swings up to ~30% between back-to-back runs of identical
code, which is larger than the effects the bench exists to detect.
All four sections (query sweep, FHIR pipeline, streaming drain,
training shards) therefore run as >=5 INTERLEAVED repetitions —
rep k runs sweep, then FHIR, then streaming, then shards, then rep
k+1 starts over — so slow host windows spread across sections
instead of landing on one. The payload reports, per section, the
median/min/max over the reps ("dispersion" block) alongside the
cross-round-comparable point numbers (min basis, same spirit as the
old best-of-N). A real regression now has to move the MEDIAN outside
the observed min..max band of the prior round to be called one.

Each query is fully executed (df.collect(); headline results are
small aggregates). Timing includes plan + execution, not session
startup; a per-plan warmup pass primes JVM/codegen first.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
# Wall-clock guard: a full 5-rep run is ~10-11 min on this box; if a
# pathologically slow/contended host would push the TIMED phase past
# this budget, stop after the current rep (>=2 reps always complete)
# and report the reps we have — a payload with n_reps=3 beats a
# driver-timeout losing the payload entirely. The dispersion block
# records n_reps, so a short run is self-describing.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))

# Headline set: the scan/join/agg/window workhorses (fact-table-heavy),
# plus the extension pipelines once registered.
HEADLINE = [
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q04_semi_join",
    "q05_regional_revenue",
    "q06_revenue_delta",
    "q07_rollup",
    "q12_global_agg",
    "q16_nation_trade_pairs",
    "q18_big_orders",
    "q19_order_count_distribution",
    "q24_range_join",
    "q25_asof_join",
    "q29_percentiles",
    "q31_topk_per_group",
    "q83_market_share",
    "q37_dedup_first_wins",
    "q64_from_json_map",
]
# Extension headliners (added as they land).
HEADLINE += [
    "x01_dedup_exact",
    "x02_dedup_minhash",
    "x03_simhash",
    "x06_dedup_embedding",
    "x10_knn_bruteforce",
    "x11_knn_lsh",
    "x20_text_quality",
    "x23_fingerprint",
    "x25_tfidf",
    "x26_vocabulary",
    "x42_decontamination",
    "x30_tumbling_window",
    "x32_session_window",
    "x16_semdedup",
    "x46_lm_score",
    "x44_pii_redaction",
    "x34_time_rollup",
    "q92_nation_pair_volume",
    "q96_disjunctive_predicate",
]
# Round-4 additions (sub-document dedup family; media/ingest paths).
HEADLINE += [
    "x19_paragraph_removal",
    "x17_repetition_removal",
    "x64_frame_sample",
    "x66_incremental_dedup",
]
# Round-5 additions (PassJoin similarity join; corpus statistics).
HEADLINE += [
    "x85_typo_pairs",
    "x87_dsir_weights",
    "x88_dup_spans",
    "x92_source_ngram_overlap",
]
# Round-5 closing batch (span removal; PQ serving; sketches; graph).
HEADLINE += [
    "x94_span_removal",
    "x96_pq_adc_search",
    "x97_cms_heavy_hitters",
    "x100_pagerank_nations",
]
# Round-5 statistical-analytics representatives (widest shuffles of
# the x151+ family: corpus trigram distinct; sessionized pair join).
HEADLINE += [
    "x154_distinct_ngrams",
    "x173_session_cooccurrence",
]
# Round-8 rotation (r7 verdict ask #8): first-time headliners from the
# round's newly driver-green names — sparse retrieval, dedup cluster
# profiling, HLL rollup, CCNet-style partitioning, BPE segmentation,
# IVF recall eval.
HEADLINE += [
    "x47_bm25_search",
    "x56_dup_cluster_profile",
    "x59_ivf_recall",
    "x74_hll_rollup",
    "x78_ccnet_partition",
    "x80_bpe_segment",
]
# Round-9 rotation (r8 verdict ask #4): first-time headliners from the
# r8 newly driver-green set — RAG chunking, Zipf-slope fit, winnowing
# fingerprints, multimodal resize grid, PQ code assignment, Benford
# first-digit audit.
HEADLINE += [
    "x81_rag_chunks",
    "x89_zipf_slope",
    "x90_winnowing",
    "x93_resize_grid",
    "x95_pq_codes",
    "x151_benford_audit",
]
# Round-11 rotation (r10 verdict ask #3; the standing r8 rule): first-
# time headliners from the r10 newly driver-green set (x217–x261),
# picked for plan diversity — skyline dominance (self-join prune),
# run-length text redundancy, payload Benford digit audit, the
# exec-summary multi-leg join panel, and x240 whose revenue display is
# one of the r10 exact-integer ratio rewrites (doubles as a regression
# sentinel for the new DIV-based form).
HEADLINE += [
    "x223_run_redundancy",
    "x225_price_revenue_skyline",
    "x240_launch_cohort_vitality",
    "x246_payload_benford",
    "x260_exec_summary",
]


def _summary(values: list[float], ndigits: int = 3) -> dict:
    return {
        "median": round(statistics.median(values), ndigits),
        "min": round(min(values), ndigits),
        "max": round(max(values), ndigits),
        "n_reps": len(values),
        "reps": [round(v, ndigits) for v in values],
    }


class FhirBench:
    """Reference-workload throughput: the BCDA EOB transform (the
    reference's heaviest branch) over synthetic NDJSON, Spark pipeline
    vs the reference-equivalent single-threaded Python loop on the
    SAME data — the goal's 'matches-or-beats single-node throughput'
    measured directly. One timed Spark run per interleaved rep;
    default scan-split confs are stated around each run (the honest
    methodology — the sweep harness's small-file conf shrink must not
    leak in) and restored after.
    """

    def __init__(self, spark, n_records: int = 100_000):
        import tempfile

        from capgemini_himss24_fhirbulkdata_demo_spark.sources import (
            read_ndjson,
            write_ndjson,
        )
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import (
            RXNAV_BENCH,
            write_eob_ndjson,
            write_eob_ndjson_dir,
        )
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
            RESOURCE_SCHEMAS,
            RXNAV_LOOKUP_SCHEMA,
        )

        self.spark = spark
        self.n_records = n_records
        self._read_ndjson = read_ndjson
        self._write_ndjson = write_ndjson
        self._schema = RESOURCE_SCHEMAS["ExplanationOfBenefit"]
        self._rxnav_bench = RXNAV_BENCH
        self.tmp = tempfile.mkdtemp(prefix="fhirbench_")
        # Landing-DIR corpus (64 NDJSON files): a real bulk export is
        # many files (the reference iterates a manifest of them), and
        # it's what lets the DEFAULT 128 MB split conf parallelize the
        # scan (r6 verdict structural fix).
        self.src = write_eob_ndjson_dir(
            os.path.join(self.tmp, "eobs_landing"), n_records
        )
        self.rx = spark.createDataFrame(
            [(k, v["name"], v["rxnorm"]) for k, v in sorted(RXNAV_BENCH.items())],
            RXNAV_LOOKUP_SCHEMA,
        )
        self.fn = get_transform("https://bcda.example", "ExplanationOfBenefit")
        # Warmup: the EOB struct schema has its own codegen/JIT
        # footprint the query-sweep warmup never touches — without
        # this the first timed run measures compilation, not
        # throughput.
        warm_src = write_eob_ndjson(os.path.join(self.tmp, "warm.ndjson"), 2_000)
        warm = read_ndjson(spark, warm_src, self._schema)
        write_ndjson(self.fn(warm, self.rx), os.path.join(self.tmp, "warm_out"))
        self.times: list[float] = []

    def run_rep(self, rep: int) -> float:
        spark = self.spark
        prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
        spark.conf.set("spark.sql.files.openCostInBytes", str(4 * 1024 * 1024))
        try:
            t0 = time.perf_counter()
            df = self._read_ndjson(spark, self.src, self._schema)
            self._write_ndjson(
                self.fn(df, self.rx), os.path.join(self.tmp, f"out{rep}")
            )
            elapsed = time.perf_counter() - t0
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
            spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)
        self.times.append(elapsed)
        return elapsed

    def finalize(self) -> dict:
        # Single-threaded reference-equivalent loop
        # (tests/fhir_oracle.py semantics) on a 1/10 sample,
        # extrapolated — running 100k records row-at-a-time takes
        # minutes, which is itself the finding.
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import (
            make_eob,
        )

        sys.path.insert(0, os.path.join(REPO_ROOT, "tests"))
        import fhir_oracle

        sample = max(self.n_records // 10, 1)
        docs = [make_eob(i) for i in range(sample)]
        t0 = time.perf_counter()
        fhir_oracle.process(
            "https://bcda.example", "ExplanationOfBenefit", docs, self._rxnav_bench
        )
        python_sec = (time.perf_counter() - t0) * (self.n_records / sample)
        best = min(self.times)
        rates = [self.n_records / t for t in self.times]
        import shutil

        shutil.rmtree(self.tmp, ignore_errors=True)
        return {
            "fhir_eob_records": self.n_records,
            "fhir_eob_spark_sec": round(best, 3),
            "fhir_eob_spark_rec_per_sec": round(self.n_records / best),
            # old (r2) basis: the first timed run of the session.
            # v7 note: the untimed warmup pass means this first timed
            # run is now WARM — expect a step up vs the r2-r8 series
            # on this key; the cold-start number no longer exists.
            "fhir_eob_spark_sec_single_run_basis": round(self.times[0], 3),
            "fhir_eob_rec_per_sec_single_run_basis": round(
                self.n_records / self.times[0]
            ),
            "fhir_eob_rec_per_sec_dispersion": _summary(rates, 0),
            "fhir_eob_python_sec_extrapolated": round(python_sec, 3),
            "fhir_eob_speedup_vs_single_thread": round(python_sec / best, 2),
        }


class StreamingBench:
    """Structured Streaming throughput: land the sf events table as
    parquet files, drain a watermarked tumbling-window aggregation
    with trigger(availableNow) through a foreachBatch sink, and report
    events/sec over the drain wall-clock.

    Per-rep drains = the ENGINE-DEFAULT path (``start_stateful_query``
    sizing state to one task wave — the session's task slots, capped
    in local mode at the JVM's processors — with no bench-side conf
    tuning: what a user of the streaming/ helpers gets out of the box;
    r7 verdict What's-wrong #2: the tuned confs used to live only in
    this harness) AND, since v7.1, the raw session-default
    drain (the old "default basis": writeStream under the session's
    32 shuffle partitions — the naive-user path). The raw drain was a
    one-shot companion through v7, which left the r2–r9 historical
    series with no dispersion band of its own and made it the
    least-triageable number in the payload (r9 verdict ask #6). The
    tuned basis stays one-shot (it exists only for series
    continuity).
    """

    def __init__(self, spark):
        import tempfile

        from pyspark.sql import functions as F

        from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table

        self.spark = spark
        self.tmp = tempfile.mkdtemp(prefix="streambench_")
        self.landing = os.path.join(self.tmp, "landing")
        ev = load_table(spark, SF_DIR, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        self.n_events = ev.count()
        # 8 files -> several list/plan cycles without file-per-row overhead
        ev.repartition(8).write.mode("overwrite").parquet(self.landing)
        self.schema = spark.read.parquet(self.landing).schema
        self.engine_default_walls: list[float] = []
        self.session_default_walls: list[float] = []
        self.tuned_walls: list[float] = []
        # v7.2 (r10 verdict ask #4): per-rep wall + JVM GC-time delta +
        # micro-batch durations (first batch carries state-store init)
        # recorded next to every drain, so a single-rep band-floor
        # outlier can be attributed (GC pause vs init vs host) without
        # a re-run — both r10 payloads had one engine-default rep ~3x
        # below median and nothing to triage it with.
        self.rep_notes: dict[str, list[dict]] = {
            "engine_default": [], "session_default": [], "tuned": [],
        }
        self.output_rows: int = 0

    def _gc_ms(self) -> int:
        """Cumulative JVM GC time (ms) across all collector beans."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        total, it = 0, beans.iterator()
        while it.hasNext():
            total += it.next().getCollectionTime()
        return int(total)

    def _note(self, basis: str, rep: int, wall: float, gc_ms: int, q) -> None:
        durs = [
            int(p["durationMs"]["triggerExecution"])
            for p in q.recentProgress
            if p.get("durationMs", {}).get("triggerExecution") is not None
        ]
        self.rep_notes[basis].append({
            "rep": rep,
            "wall_sec": round(wall, 3),
            "gc_ms": gc_ms,
            "n_batches": len(q.recentProgress),
            # state-store init lands in the first trigger
            "first_batch_ms": durs[0] if durs else None,
            "max_batch_ms": max(durs) if durs else None,
            "sum_batch_ms": sum(durs) if durs else None,
        })

    def _stream(self):
        from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
            read_parquet_stream,
            tumbling_agg,
        )

        return tumbling_agg(
            read_parquet_stream(
                self.spark, self.landing, self.schema, max_files_per_trigger=2
            )
        )

    def run_rep(self, rep: int) -> float:
        """Engine-default drain: helpers' own state sizing, no tuning.
        Then the raw session-default drain (v7.1) and the tuned drain
        (per-rep since v7.2 — the one-shot tuned number landed BELOW
        the engine median on r10's driver run, which a single shot
        can't distinguish from noise; banded it can)."""
        from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
            start_stateful_query,
        )

        spark = self.spark
        rows = []

        def commit(batch_df, batch_id):
            rows.append(batch_df.count())

        ck = os.path.join(self.tmp, f"ck_engine_{rep}")
        gc0 = self._gc_ms()
        t0 = time.perf_counter()
        q = start_stateful_query(
            self._stream(), ck, foreach_batch=commit, output_mode="update"
        )
        q.awaitTermination(300)
        wall = time.perf_counter() - t0
        self._note("engine_default", rep, wall, self._gc_ms() - gc0, q)
        self.engine_default_walls.append(wall)
        self.output_rows = int(sum(rows))
        # v7.1: the raw session-default drain runs per-rep too, so the
        # _default_basis series gets its own min/median/max band
        self.session_default_walls.append(
            self._raw_drain(
                os.path.join(self.tmp, f"ck_session_{rep}"),
                "session_default", rep,
            )
        )
        # v7.2: tuned drain per-rep (gc + 8 state partitions +
        # no-data batch off), confs restored around each run
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        spark.sparkContext._jvm.System.gc()
        try:
            self.tuned_walls.append(
                self._raw_drain(
                    os.path.join(self.tmp, f"ck_tuned_{rep}"), "tuned", rep
                )
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "true"
            )
        return wall

    def _raw_drain(self, checkpoint: str, basis: str, rep: int) -> float:
        rows = []

        def commit(batch_df, batch_id):
            rows.append(batch_df.count())

        gc0 = self._gc_ms()
        t0 = time.perf_counter()
        q = (
            self._stream()
            .writeStream.foreachBatch(commit)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        wall = time.perf_counter() - t0
        self._note(basis, rep, wall, self._gc_ms() - gc0, q)
        return wall

    def clear_warmup(self) -> None:
        """Drop the untimed warmup pass's walls and notes (v7)."""
        self.engine_default_walls.clear()
        self.session_default_walls.clear()
        self.tuned_walls.clear()
        for v in self.rep_notes.values():
            v.clear()

    def finalize(self) -> dict:
        import shutil

        rates = [self.n_events / w for w in self.engine_default_walls]
        sd_rates = [self.n_events / w for w in self.session_default_walls]
        tuned_rates = [self.n_events / w for w in self.tuned_walls]
        best = min(self.engine_default_walls)
        out = {
            "streaming_events": self.n_events,
            "streaming_drain_sec": round(best, 3),
            # primary (v6): the engine-default path a helper user gets
            "streaming_events_per_sec": round(self.n_events / best),
            "streaming_events_per_sec_dispersion": _summary(rates, 0),
            # continuity bases. Key semantics (v7, r8 ADVICE medium):
            # `_default_basis` is BOUND to the raw session-default
            # drain — the r2–r7 historical series — restored after v6
            # briefly (r8 only) pointed it at the engine-default
            # median; that median now lives under its own key,
            # `_engine_median`, so no cross-round comparison ever
            # silently swaps measurement bases again. Since v7.1 the
            # raw drain runs per-rep: the point value moves to the
            # min basis (like every other section) and the series
            # carries its own dispersion band.
            # (`_session_default_basis`, the r8-only duplicate key
            # kept "one more round" in r9, is retired as documented.)
            # v7.2 (r10 verdict ask #4): the tuned basis runs per-rep
            # and moves to the min basis with its own band — the
            # one-shot number read below the engine median on r10,
            # which the "tuned" label belied and one shot can't triage.
            "streaming_events_per_sec_tuned_basis": round(
                self.n_events / min(self.tuned_walls)
            ),
            "streaming_events_per_sec_tuned_basis_dispersion": _summary(
                tuned_rates, 0
            ),
            "streaming_events_per_sec_engine_median": round(
                statistics.median(rates)
            ),
            "streaming_events_per_sec_default_basis": round(
                self.n_events / min(self.session_default_walls)
            ),
            "streaming_events_per_sec_default_basis_dispersion": _summary(
                sd_rates, 0
            ),
            "streaming_output_rows": self.output_rows,
            # v7.2: per-rep GC delta + micro-batch durations per basis
            # (first batch carries state-store init) — the outlier
            # triage data the r10 verdict asked for
            "streaming_rep_notes": self.rep_notes,
        }
        shutil.rmtree(self.tmp, ignore_errors=True)
        return out


class ShardsBench:
    """Training-handoff export throughput: shard the sf documents
    table with ``write_training_shards`` (range-partitioned, sorted,
    footer-counted manifest) and report docs/sec plus the shard-size
    spread (max/min rows — range partitioning should keep shards
    balanced on the uniform doc_id key)."""

    def __init__(self, spark):
        import tempfile

        from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table

        self.spark = spark
        self.tmp = tempfile.mkdtemp(prefix="shardbench_")
        self.docs = load_table(spark, SF_DIR, "documents")
        self.n_docs = self.docs.count()
        self.times: list[float] = []
        self.manifest = None

    def run_rep(self, rep: int) -> float:
        from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
            write_training_shards,
        )

        out = os.path.join(self.tmp, f"shards{rep}")
        t0 = time.perf_counter()
        self.manifest = write_training_shards(
            self.docs, out, "doc_id", n_shards=8
        )
        elapsed = time.perf_counter() - t0
        self.times.append(elapsed)
        return elapsed

    def finalize(self) -> dict:
        import shutil

        rows = [s["rows"] for s in self.manifest["shards"]]
        best = min(self.times)
        rates = [self.n_docs / t for t in self.times]
        shutil.rmtree(self.tmp, ignore_errors=True)
        return {
            "shards_docs": self.n_docs,
            "shards_n": self.manifest["n_shards"],
            "shards_write_sec": round(best, 3),
            "shards_docs_per_sec": round(self.n_docs / best),
            "shards_docs_per_sec_dispersion": _summary(rates, 0),
            "shards_rows_min": min(rows),
            "shards_rows_max": max(rows),
            "shards_spread": round(max(rows) / max(min(rows), 1), 3),
        }


# Measurement-basis version, reported in the output JSON so rounds are
# comparable (ADVICE r3). v5: 64-file FHIR landing dir. v6 (r7 verdict
# What's-wrong #1): all sections run as >=5 INTERLEAVED repetitions
# with per-section median/min/max dispersion reported; point numbers
# stay on the min basis (per-query min over reps ~ the old best-of-N);
# streaming's primary number moves to the ENGINE-DEFAULT drain
# (start_stateful_query's own state sizing — the engine now owns the
# conf the harness used to tune), with the tuned and raw
# session-default drains kept as one-shot continuity bases. v7 (r8
# verdict What's-wrong #1 + ADVICE): full untimed warmup pass of all
# four sections before rep 1 (warm bands); _default_basis restored to
# the raw session-default drain with the engine median under its own
# _engine_median key; section tempdirs removed in finalize. v7.1 (r9
# verdict ask #6): the raw session-default drain runs per-rep so the
# _default_basis series carries its own dispersion band; all other
# bases unchanged. v7.2 (r10 verdict ask #4): the tuned drain also
# runs per-rep (min basis + band; the one-shot form was untriageable
# and mislabeled when it landed below the engine median), and every
# drain records per-rep GC-time delta + micro-batch durations under
# streaming_rep_notes so a band-floor outlier is attributable without
# a re-run.
METHODOLOGY = {
    "version": 7.2,
    "reps": REPS,
    "interleaved": "per rep: query sweep -> FHIR -> streaming -> "
                   "shards; dispersion = median/min/max over reps",
    "warmup": "v7: one FULL UNTIMED pass of all four sections at "
              "target scale before rep 1 (after the sf0.001 per-plan "
              "warmup), so every timed rep is warm and min..max is a "
              "pure host-noise band — v6 bands included the cold "
              "first rep (up to 4.8x off median), masking real "
              "median regressions of that size",
    "query_sweep": "sf0.001 warmup per plan, System.gc(); per-query "
                   "point value = min over reps",
    "fhir": "one timed run per rep under default scan-split confs "
            "(64-file NDJSON landing dir); point value = min; "
            "single-run basis = first timed rep",
    "streaming": "per rep: engine-default drain via "
                 "start_stateful_query (state partitions = one "
                 "task wave, no harness tuning) THEN the raw session-default "
                 "drain (32 parts — per-rep since v7.1, giving the "
                 "r2-r9 _default_basis series its own dispersion "
                 "band; point value = min over reps, r9 verdict ask "
                 "#6) THEN the tuned drain (gc + 8 parts + "
                 "noDataMicroBatches off — per-rep since v7.2 with "
                 "its own band; the one-shot tuned number read below "
                 "the engine median on r10, r10 verdict ask #4). "
                 "_default_basis = raw session-default drain; "
                 "engine-default median lives under _engine_median. "
                 "v7.2 also records per-rep GC-time delta + "
                 "micro-batch durations (first batch = state-store "
                 "init) under streaming_rep_notes for outlier triage",
    "shards": "one write_training_shards per rep, 8 shards on doc_id; "
              "point value = min",
    "host_variance": "this box swings up to ~30% run-to-run on "
                     "identical code; compare MEDIANS across rounds "
                     "and treat min..max as the noise band",
    "budget_guard": "timed phase stops after the current rep (>=2) if "
                    "projected past SPARK_GRAFT_BENCH_BUDGET_S "
                    "(default 1500s); dispersion.n_reps records how "
                    "many reps actually ran",
}


def main() -> None:
    from capgemini_himss24_fhirbulkdata_demo_spark.queries import QUERIES
    from capgemini_himss24_fhirbulkdata_demo_spark.session import get_spark

    # Refresh the driver-coverage ledger (pre-bench hook: the driver
    # runs bench every round, so COVERAGE.md tracks CORRECTNESS_r*)
    try:
        import __spark_entry__

        __spark_entry__.write_coverage_md()
    except Exception as e:  # ledger is advisory; never fail the bench
        print(f"[bench] coverage ledger skipped: {e}", file=sys.stderr)

    # Local-fixture scan tuning: the sf0.1 files are 0.1–11 MB, far
    # below the 128 MB default split, so scans would run 1–3 tasks.
    # Shrinking openCost/maxPartitionBytes spreads them over the 32
    # cores (10–35% per-query win). At cluster scale (multi-GB files)
    # the defaults are correct — this is bench-harness config, not
    # engine policy. (The FHIR section overrides these back to the
    # defaults around its timed runs.)
    n_shuffle = int(CPUS) if CPUS.isdigit() else (os.cpu_count() or 8)
    spark = get_spark(
        master=f"local[{CPUS}]",
        shuffle_partitions=n_shuffle,
        extra_conf={
            "spark.sql.files.openCostInBytes": "262144",
            "spark.sql.files.maxPartitionBytes": "2097152",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    names = [n for n in HEADLINE if n in QUERIES]

    # Warmup: run every headline query once at the smallest fixture so
    # whole-stage-codegen JIT is primed per plan shape — the timed
    # sweep then measures steady-state execution, not compilation
    # (cold-vs-warm is ~2x on the heavier plans). Falls back to the
    # target dir when sf0.001 is absent.
    warm_dir = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = SF_DIR

    def run_once(name: str, sf: str) -> None:
        df = QUERIES[name](spark, sf)
        df.collect()
        # queries that persist intermediates attach them for release —
        # a 50-query sweep must not accumulate cached frames
        for dep in getattr(df, "_cached_deps", []):
            dep.unpersist()

    t_warm = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        run_once(name, warm_dir)
        print(f"[bench] warmup {name}: {time.perf_counter()-t0:.2f}s", file=sys.stderr)
    print(f"[bench] warmup total: {time.perf_counter()-t_warm:.1f}s", file=sys.stderr)

    # Section fixtures/warmups built once, then REPS interleaved
    # passes over all four sections.
    fhir = FhirBench(spark)
    streaming = StreamingBench(spark)
    shards = ShardsBench(spark)

    # v7 (r8 verdict What's-wrong #1): one FULL UNTIMED warmup pass of
    # all four sections at target scale before rep 1. The sf0.001
    # per-plan warmup above primes codegen but not the target-scale
    # vectorized-reader/agg JIT thresholds or the sections' own
    # cold-start (r8 measured rep 1 at 1.37x the sweep median, 0.50x
    # the FHIR median, 0.21x the streaming median) — with the cold rep
    # inside the dispersion band, a genuine 40–60% median regression
    # could still land "inside the band" and pass triage. Warming all
    # four sections once makes every TIMED rep a warm rep, so the
    # min..max band is a pure host-noise band.
    spark.sparkContext._jvm.System.gc()
    t_warm2 = time.perf_counter()
    for name in names:
        run_once(name, SF_DIR)
    fhir.run_rep(-1)
    streaming.run_rep(-1)
    shards.run_rep(-1)
    fhir.times.clear()
    streaming.clear_warmup()
    shards.times.clear()
    print(
        f"[bench] target-scale warmup pass (untimed): "
        f"{time.perf_counter() - t_warm2:.1f}s",
        file=sys.stderr,
    )

    query_times: dict[str, list[float]] = {n: [] for n in names}
    sweep_totals: list[float] = []
    t_timed_start = time.perf_counter()
    for rep in range(REPS):
        spark.sparkContext._jvm.System.gc()
        rep_total = 0.0
        for name in names:
            t0 = time.perf_counter()
            run_once(name, SF_DIR)
            elapsed = time.perf_counter() - t0
            query_times[name].append(elapsed)
            rep_total += elapsed
        sweep_totals.append(rep_total)
        t_f = fhir.run_rep(rep)
        t_s = streaming.run_rep(rep)
        t_h = shards.run_rep(rep)
        print(
            f"[bench] rep {rep + 1}/{REPS}: sweep {rep_total:.1f}s, "
            f"fhir {t_f:.2f}s, streaming {t_s:.2f}s, shards {t_h:.2f}s",
            file=sys.stderr,
        )
        elapsed_timed = time.perf_counter() - t_timed_start
        per_rep = elapsed_timed / (rep + 1)
        if rep + 1 >= 2 and rep + 1 < REPS and elapsed_timed + per_rep > BUDGET_S:
            print(
                f"[bench] budget guard: {elapsed_timed:.0f}s elapsed + "
                f"~{per_rep:.0f}s/rep exceeds {BUDGET_S:.0f}s — stopping "
                f"after {rep + 1}/{REPS} reps",
                file=sys.stderr,
            )
            break

    per_query = {n: round(min(ts), 3) for n, ts in query_times.items()}
    total = round(sum(per_query.values()), 3)

    fhir_out = fhir.finalize()
    streaming_out = streaming.finalize()
    shards_out = shards.finalize()

    # r12 (r11 verdict ask #5): OPTIONAL higher-SF scaling probe. At
    # sf0.1 every benched query is per-query fixed-overhead-bound
    # (r11's 8-core driver sweep beat its 32-core one, 68.5 vs
    # 77.7 s), so the driver's low/high-core ratios cannot separate
    # serial paths from parallel ones. Setting SPARK_GRAFT_SCALING_SF
    # to a LARGER fixture dir (e.g. written by
    # tools/make_scaled_fixture.py --all-tables) appends a one-rep
    # mini-sweep of the slowest headliners at that scale under a
    # separate "scaling_probe" payload key. Additions-only: the main
    # `queries` dict, every section number and the BENCH_SUMMARY line
    # are byte-identical whether or not the env var is set (unset —
    # the driver's runs — means no probe at all).
    scaling_probe = None
    probe_dir = os.environ.get("SPARK_GRAFT_SCALING_SF")
    if probe_dir and os.path.isdir(probe_dir):
        try:
            probe_n = int(os.environ.get("SPARK_GRAFT_SCALING_TOP", "10"))
        except ValueError:  # advisory; a typo must not abort a finished bench
            probe_n = 10
        top = [
            n for n, _ in sorted(per_query.items(), key=lambda kv: -kv[1])
        ][:probe_n]
        probe_times: dict[str, float | None] = {}
        for name in top:
            try:
                run_once(name, probe_dir)  # warm the plan at probe scale
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                run_once(name, probe_dir)
                probe_times[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # advisory; never fail the bench
                probe_times[name] = None
                print(
                    f"[bench] scaling probe {name} failed: {exc}",
                    file=sys.stderr,
                )
        scaling_probe = {
            "sf_dir": probe_dir,
            "cpus": int(CPUS) if CPUS.isdigit() else CPUS,
            "reps": 1,
            "queries": probe_times,
            "total_sec": round(
                sum(v for v in probe_times.values() if v), 3
            ),
        }
        print(
            f"[bench] scaling probe at {probe_dir} "
            f"(local[{CPUS}]): {scaling_probe['total_sec']}s over "
            f"{len(probe_times)} queries",
            file=sys.stderr,
        )

    payload = {
        "metric": "headline_query_sweep_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "dispersion": {
            "sweep_total_sec": _summary(sweep_totals),
            "fhir_rec_per_sec": fhir_out["fhir_eob_rec_per_sec_dispersion"],
            "streaming_ev_per_sec": streaming_out[
                "streaming_events_per_sec_dispersion"
            ],
            "streaming_default_ev_per_sec": streaming_out[
                "streaming_events_per_sec_default_basis_dispersion"
            ],
            "streaming_tuned_ev_per_sec": streaming_out[
                "streaming_events_per_sec_tuned_basis_dispersion"
            ],
            "shards_docs_per_sec": shards_out[
                "shards_docs_per_sec_dispersion"
            ],
        },
        "fhir_pipeline": fhir_out,
        "streaming": streaming_out,
        "training_shards": shards_out,
        "methodology": METHODOLOGY,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if scaling_probe is not None:
        payload["scaling_probe"] = scaling_probe
    print(json.dumps(payload))
    # Persist the FULL payload as a repo file: the driver's 2000-char
    # stdout tail truncated the per-query timings two rounds running
    # (BENCH_r04/r05 lost the first ~40 entries), which breaks
    # cross-round per-query regression tracking. Round number =
    # latest driver-recorded BENCH_r*.json + 1 (the driver writes
    # BENCH_rN after this run completes).
    try:
        import glob as _glob
        import re as _re

        rounds = [
            int(m.group(1))
            for p in _glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json"))
            if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        rnd = (max(rounds) if rounds else 0) + 1
        local_path = os.path.join(REPO_ROOT, f"BENCH_LOCAL_r{rnd}.json")
        with open(local_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"[bench] full payload -> {local_path}", file=sys.stderr)
    except Exception as e:  # persistence is advisory; never fail the bench
        print(f"[bench] local payload skipped: {e}", file=sys.stderr)
    # Tail-capture hardening: the driver records only the last ~2000
    # chars of stdout, which truncated BENCH_r04's big JSON line and
    # lost the sweep total + first 8 query timings. A compact summary
    # printed LAST keeps the headline parseable from the tail alone.
    print(
        "BENCH_SUMMARY "
        + json.dumps(
            {
                "metric": "headline_query_sweep_sec",
                "value": total,
                "unit": "sec",
                "sweep_sec_median": payload["dispersion"]["sweep_total_sec"][
                    "median"
                ],
                "n_queries": len(per_query),
                "fhir_rec_per_sec": fhir_out.get("fhir_eob_spark_rec_per_sec"),
                "fhir_rec_per_sec_median": payload["dispersion"][
                    "fhir_rec_per_sec"
                ]["median"],
                "streaming_ev_per_sec": streaming_out.get(
                    "streaming_events_per_sec"
                ),
                "streaming_ev_per_sec_median": payload["dispersion"][
                    "streaming_ev_per_sec"
                ]["median"],
                "methodology_version": METHODOLOGY["version"],
                "reps": REPS,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
