"""Tests for the diagnostic tools that feed scale evidence.

The scaled-fixture generator (tools/make_scaled_fixture.py) is the
substrate for SKETCH_MARGINS.md and the full-corpus differential
ladder (tools/full_differential.py); if its key-offset replication
ever broke join integrity, every conclusion drawn from those corpora
would be about a malformed corpus. These tests pin the invariants the
docstring promises, on a 2x copy of sf0.001.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

N = 2


@pytest.fixture(scope="module")
def scaled_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fixture2x"))
    import make_scaled_fixture

    make_scaled_fixture.main([out, str(N), SF_DIR, "--all-tables"])
    return out


def _counts(spark, sf_dir, table):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")).count()


def test_row_counts_scale_exactly(spark, scaled_dir):
    fact = (
        "lineitem orders customer part supplier events documents embeddings"
    ).split()
    for t in fact:
        assert _counts(spark, scaled_dir, t) == N * _counts(spark, SF_DIR, t), t
    for t in ("nation", "region"):
        assert _counts(spark, scaled_dir, t) == _counts(spark, SF_DIR, t), t


def _load(spark, sf_dir, table):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


@pytest.mark.parametrize(
    "left,right,cond",
    [
        ("lineitem", "orders", "l_orderkey = o_orderkey"),
        ("lineitem", "part", "l_partkey = p_partkey"),
        ("lineitem", "supplier", "l_suppkey = s_suppkey"),
        ("orders", "customer", "o_custkey = c_custkey"),
        ("events", "customer", "user_id = c_custkey"),
        ("documents", "embeddings", "doc_id = vec_id"),
        # group-A coherence: the as-of predicate must replicate
        # per copy — a stride mismatch between event_id and
        # o_orderkey would change this count non-linearly
        (
            "events",
            "orders",
            "user_id = o_custkey AND event_id <= o_orderkey",
        ),
    ],
)
def test_join_densities_scale_exactly(spark, scaled_dir, left, right, cond):
    def pairs(sf_dir):
        _load(spark, sf_dir, left).createOrReplaceTempView("l_")
        _load(spark, sf_dir, right).createOrReplaceTempView("r_")
        return spark.sql(f"SELECT count(*) c FROM l_ JOIN r_ ON {cond}").first()["c"]

    base = pairs(SF_DIR)
    assert base > 0, f"degenerate base join {left}/{right}"
    assert pairs(scaled_dir) == N * base


def test_copies_are_key_disjoint(spark, scaled_dir):
    from pyspark.sql import functions as F

    for t, k in [
        ("documents", "doc_id"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("customer", "c_custkey"),
    ]:
        base = _load(spark, SF_DIR, t).agg(F.countDistinct(k)).first()[0]
        scaled = _load(spark, scaled_dir, t).agg(F.countDistinct(k)).first()[0]
        assert scaled == N * base, t


def test_payloads_replicate_verbatim(spark, scaled_dir):
    """Each document body appears exactly N times (the designed
    exact-duplicate stress for the dedup family)."""
    from pyspark.sql import functions as F

    docs = _load(spark, scaled_dir, "documents")
    mult = (
        docs.groupBy("text").count().select(F.collect_set("count").alias("m"))
    ).first()["m"]
    base_max = (
        _load(spark, SF_DIR, "documents").groupBy("text").count().agg(F.max("count"))
    ).first()[0]
    assert max(mult) <= N * base_max
    assert min(mult) >= N


def test_docs_override_scales_only_document_group(spark, tmp_path):
    import make_scaled_fixture

    out = str(tmp_path / "docs3x")
    make_scaled_fixture.main([out, "1", SF_DIR, "--all-tables", "--docs", "3"])
    for t in ("documents", "embeddings"):
        assert _counts(spark, out, t) == 3 * _counts(spark, SF_DIR, t), t
    for t in ("lineitem", "orders", "customer", "events"):
        assert _counts(spark, out, t) == _counts(spark, SF_DIR, t), t
    # doc/vec stride group intact under the override
    d = _load(spark, out, "documents")
    v = _load(spark, out, "embeddings")
    joined = d.join(v, d["doc_id"] == v["vec_id"]).count()
    db = _load(spark, SF_DIR, "documents")
    vb = _load(spark, SF_DIR, "embeddings")
    base = db.join(vb, db["doc_id"] == vb["vec_id"]).count()
    assert joined == 3 * base


def test_docs_without_all_tables_errors(tmp_path):
    """r9 ADVICE: --docs was silently ignored without --all-tables."""
    import make_scaled_fixture

    with pytest.raises(SystemExit):
        make_scaled_fixture.main([str(tmp_path / "x"), "2", SF_DIR, "--docs", "3"])


def test_resume_log_parsing_is_anchored(tmp_path):
    """r9 ADVICE: --resume must not green a FAIL line containing
    ': ok (' in its error text, and must carry the fixture header."""
    import full_differential

    log = tmp_path / "prior.log"
    log.write_text(
        "[differential] sf_dir=/tmp/fxA ansi=False\n"
        "[  1/3] q01_pricing_summary: ok (1.2s)\n"
        "[  2/3] q02_filter_project: FAIL (0.3s) exception: got ': ok (' in text\n"
        "[  3/3] q03_top_revenue_orders: ok (resumed from prior log)\n"
    )
    sf, log_ansi, green = full_differential.parse_resume_log(str(log))
    assert sf == "/tmp/fxA"
    assert log_ansi == "False"
    assert green == {"q01_pricing_summary", "q03_top_revenue_orders"}

    headerless = tmp_path / "old.log"
    headerless.write_text("[  1/1] q01_pricing_summary: ok (1.0s)\n")
    sf2, ansi2, green2 = full_differential.parse_resume_log(str(headerless))
    assert sf2 is None and ansi2 is None  # pre-r11: main() refuses
    assert green2 == {"q01_pricing_summary"}


def test_resume_log_parsing_captures_ansi_and_resets_on_header(tmp_path):
    """r10 ADVICE (medium): the header's ansi= flag must be captured
    so main() can refuse a cross-MODE resume (a non-ANSI log must
    never green-skip queries in an --ansi overflow-detector run), and
    a log holding two concatenated runs must resume only the LAST
    header's greens — not the union across fixtures/modes."""
    import full_differential

    log = tmp_path / "two_runs.log"
    log.write_text(
        # run 1: non-ANSI against fixture A
        "[differential] sf_dir=/tmp/fxA ansi=False\n"
        "[  1/2] q01_pricing_summary: ok (1.2s)\n"
        "[  2/2] q02_filter_project: ok (0.3s)\n"
        # run 2 (appended with >>): ANSI against fixture B
        "[differential] sf_dir=/tmp/fxB ansi=True\n"
        "[  1/2] q03_top_revenue_orders: ok (0.9s)\n"
        "[  2/2] q02_filter_project: FAIL (0.3s) boom\n"
    )
    sf, log_ansi, green = full_differential.parse_resume_log(str(log))
    assert sf == "/tmp/fxB"
    assert log_ansi == "True"
    # run 1's greens were reset at run 2's header: q01/q02 (only green
    # non-ANSI against fxA) must NOT resume-pass an ANSI run on fxB
    assert green == {"q03_top_revenue_orders"}


def test_bench_compare_point_fallback():
    """r9 verdict ask #6: the session-default streaming series gets a
    triage row even against pre-v7.1 payloads (point fallback)."""
    import bench_compare

    old = {"streaming": {"streaming_events_per_sec_default_basis": 22800}}
    band, is_point = bench_compare._band(old, "streaming_default_ev_per_sec")
    assert is_point and band == {"median": 22800, "min": 22800, "max": 22800}

    new = {
        "dispersion": {
            "streaming_default_ev_per_sec": {
                "median": 21000, "min": 19000, "max": 24000,
            }
        }
    }
    band2, is_point2 = bench_compare._band(new, "streaming_default_ev_per_sec")
    assert not is_point2 and band2["median"] == 21000
    # 21000 inside the zero-width-band? no: below 22800 -> would read
    # REGRESSION for higher-is-better against a zero-width band; the
    # printed caveat marks it as weak evidence
    assert bench_compare.verdict(band, band2, True).startswith("REGRESSION")
    assert (
        bench_compare.verdict(band, {"median": 22800, "min": 0, "max": 1}, True)
        == "noise (medians inside bands)"
    )


def _run_line(op_p50_ms, setup_s, failed=0):
    return json.dumps({
        "correct": failed == 0, "attempted": 18, "failed": failed,
        "metrics": {"op_p50_ms": {"value": op_p50_ms, "unit": "ms"},
                    "items_per_s": {"value": 1000 / op_p50_ms, "unit": "1/s"},
                    "setup_s": {"value": setup_s, "unit": "s"}},
    })


def test_perf_ab_summary_on_canned_runs():
    """The A/B summary reads each run's last JSON line, counts pair
    wins in the direction each metric improves, and flags a median
    gap wider than the parent's interquartile range."""
    import perf_ab

    spec = [
        {"name": "op_p50_ms", "unit": "ms", "better": "lower"},
        {"name": "items_per_s", "unit": "1/s", "better": "higher"},
        {"name": "setup_s", "unit": "s", "better": "lower"},
    ]
    parent = [perf_ab.last_json(f"warming up\n{_run_line(v, s)}\n\n")
              for v, s in [(800, 12.0), (760, 11.5), (790, 11.8), (820, 12.1), (780, 11.9)]]
    change = [perf_ab.last_json(_run_line(v, s))
              for v, s in [(650, 12.2), (640, 11.4), (800, 11.9), (660, 12.0), (655, 11.9)]]
    rows = {r["name"]: r for r in perf_ab.summarize(spec, parent, change)}

    op = rows["op_p50_ms"]
    assert op["parent"] == (780, 790, 800) and op["change"] == (650, 655, 660)
    assert (op["wins"], op["pairs"], op["beyond_iqr"]) == (4, 5, True)
    assert rows["items_per_s"]["wins"] == 4  # higher is better: same pairs win
    setup = rows["setup_s"]
    assert (setup["wins"], setup["beyond_iqr"]) == (2, False)  # one tie counts for neither
    text = perf_ab.format_rows(list(rows.values()))
    assert "op_p50_ms" in text and "4/5" in text and "-17.1%" in text
    assert perf_ab.failures(change + [json.loads(_run_line(700, 12, failed=2))]) == (
        "2/108 operations failed, 1 runs incorrect"
    )
    assert perf_ab.parse_seeds("31-33,40") == [31, 32, 33, 40]


def _process_start(stamp, command, *methods):
    """One event as ``jfr print --json`` prints it: class names with
    slashes, the top of the stack first."""
    frames = [{"method": {"type": {"name": m.rpartition(".")[0].replace(".", "/")}, "name": m.rpartition(".")[2]},
               "lineNumber": 1, "type": "Interpreted"} for m in methods]
    return {"type": "jdk.ProcessStart", "values": {
        "startTime": stamp, "pid": 1, "directory": "/", "command": command,
        "stackTrace": {"truncated": False, "frames": frames},
    }}


def test_jfr_forks_tally_on_canned_recording():
    """The fork tally reads ``jfr print --json`` output, puts each
    process start into the operation whose span holds it (else
    ``(setup)``), and counts it by program name and by the first
    org.apache.spark frame from the top of the stack."""
    import jfr_forks

    rename = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager.renameTempFile"
    recording = {"recording": {"events": [
        _process_start("2026-01-01T00:00:00.5Z", "/usr/bin/chmod 644 /x",
                       "java.lang.ProcessBuilder.start", "org.apache.hadoop.fs.FileUtil.chmod"),
        _process_start("2026-01-01T00:00:01.250000001+00:00", "readlink -f /ck/x",
                       "java.lang.ProcessBuilder.start", "org.apache.hadoop.fs.FileUtil.readLink",
                       rename, "org.apache.spark.sql.execution.streaming.HDFSMetadataLog.add"),
        _process_start("2026-01-01T00:00:01.75Z", "readlink -f /ck/y",
                       "java.lang.ProcessBuilder.start", rename),
        _process_start("2026-01-01T00:00:03Z", "chmod 755 /ck",
                       "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider.commit"),
        {"type": "jdk.GarbageCollection", "values": {"startTime": "2026-01-01T00:00:01Z"}},
    ]}}
    events = jfr_forks.load_events(recording)
    assert [e["command"] for e in events] == ["chmod", "readlink", "readlink", "chmod"]
    assert events[0]["frame"] == jfr_forks.NO_SPARK_FRAME and events[1]["frame"] == rename
    assert events[1]["time"] - events[0]["time"] == pytest.approx(0.75)

    t = events[0]["time"] - 0.5  # 00:00:00
    spans = [("drain", t + 1, t + 2), ("q01", t + 2, t + 2.5), ("drain", t + 2.5, t + 4)]
    rows = jfr_forks.tally(events, spans)
    assert rows["drain"]["ops"] == 2 and rows["drain"]["starts"] == 3
    assert rows["drain"]["by_command"] == {"readlink": 2, "chmod": 1}
    assert rows["drain"]["by_frame"][rename] == 2
    assert rows["q01"] == {"ops": 1, "starts": 0, "by_command": {}, "by_frame": {}}
    assert rows[jfr_forks.SETUP]["ops"] == 0 and rows[jfr_forks.SETUP]["starts"] == 1
    text = jfr_forks.format_tally(rows)
    assert text.splitlines()[0] == "drain: 3 starts over 2 operations, 1.5 per operation"
    assert "outside any operation" in text
    # --forbid counts starts inside operations only: the setup chmod is allowed
    assert jfr_forks.forbidden(rows, ["chmod", "readlink"]) == {"readlink": 2, "chmod": 1}
    assert jfr_forks.forbidden(rows, ["ls"]) == {}
    assert jfr_forks.forbidden({jfr_forks.SETUP: rows[jfr_forks.SETUP]}, ["chmod"]) == {}
