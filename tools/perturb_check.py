"""Parallelism-perturbation determinism check.

The driver's correctness gate compares an order-insensitive value
hash, so the one divergence class the 3-SF differential sweep cannot
expose is *row-set nondeterminism*: a LIMIT / ROW_NUMBER / argmax
whose ordering key admits ties lets each engine (or the same engine
at a different parallelism) legitimately pick different rows — local
green proves nothing about the driver's box.

This tool re-runs every pending (not-yet-driver-green) query twice
per engine under deliberately different parallelism and compares the
engine's own two canonical results:

- Spark: shuffle.partitions=32 vs =5 (different partition counts
  reorder partial-agg folds and shuffle arrival order)
- DuckDB: threads=8 vs threads=1 (parallel TopN / agg tie resolution),
  plus two *environment* perturbations the driver's DuckDB build could
  legitimately differ on: session TimeZone (the default follows the
  system TZ — any oracle whose result moves with it is driver-dependent)
  and default_null_order (DuckDB flipped the default from NULLS_FIRST
  to NULLS_LAST in 0.9 — an ordering key with NULLs feeding a LIMIT or
  rank picks different rows across builds). The Spark side of both is
  already pinned by the entry point (UTC session TZ, explicit
  asc_nulls_* where it matters), so only the oracle side needs probing.

A query whose own output changes under perturbation matched its
oracle by accident and WILL flake on the driver eventually. Usage:

    python tools/perturb_check.py [sf_dir] [name_prefix...]
    python tools/perturb_check.py --fhir     # §2A golden pipeline
    python tools/perturb_check.py [sf_dir] --scan-layout [prefix...]
                                  # map-side axis, ALL registered names

``--fhir`` runs the §2A golden FHIR corpus (every transform case from
tests/test_fhir_golden.py, plus a duplicate-id EOB corpus — the
conflicted-ids anti-join and positional-array writes are the §2A ops
most exposed to partitioning) under shuffle-partitions × input-layout
perturbations and asserts the canonical output is identical across
all runs and equal to the pure-Python oracle. It then lands each
corpus as two id-coherent files and runs them through
``pipeline.transform_landed_files`` one call per file and in one call;
both must equal the oracle.
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def green_names() -> set[str]:
    out: set[str] = set()
    for p in sorted(glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json"))):
        try:
            rows = json.load(open(p))
        except Exception:
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            ):
                out.add(name.removeprefix("a_"))
    return out


def canonical(cols, rows):
    from tests.oracle import _rows_to_canonical

    return _rows_to_canonical(list(cols), rows)


def fhir_perturb() -> None:
    """§2A golden-pipeline perturbation: each transform case runs at
    shuffle.partitions {32, 5} × input repartition {1, 7} through the
    real NDJSON read → transform → collect path; all four canonical
    outputs must be identical and equal to the pure-Python oracle."""
    import json as _json
    import tempfile

    from pyspark.sql import SparkSession

    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        RESOURCE_SCHEMAS,
    )
    from tests import fhir_oracle
    from tests.test_fhir_golden import CASES, RXNAV, _eob, _NDC, _rxnav_df

    # duplicate-id corpus: id 'dup-1' carries a passing AND a failing
    # row (must be fully removed), 'dup-2' two passing rows (both
    # kept) — the exact shapes the duplicate-id window partitions on
    eobs_dup = list(CASES["bcda-ExplanationOfBenefit"][2]) + [
        _eob("dup-1", codings=[{"system": _NDC, "code": "11111", "display": "A"}]),
        _eob("dup-1", patient="Patient/nope"),
        _eob("dup-2", codings=[{"system": _NDC, "code": "11111", "display": "A"}]),
        _eob("dup-2", codings=[{"system": _NDC, "code": "22222"}]),
    ]
    cases = dict(CASES)
    cases["bcda-EOB-duplicate-ids"] = (
        "https://bcda.cms.example/api",
        "ExplanationOfBenefit",
        eobs_dup,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rx = _rxnav_df(spark)
    tmp = tempfile.mkdtemp(prefix="fhirperturb_")

    def canon_docs(docs):
        # multiset of key-sorted JSON (duplicate ids make a dict
        # keyed by id lossy); ints normalize to floats so the JSON
        # integer 10 equals the struct-schema double 10.0, the
        # same equivalence the golden test gets from Python dict
        # equality
        def norm(v):
            if isinstance(v, bool):
                return v
            if isinstance(v, int):
                return float(v)
            if isinstance(v, list):
                return [norm(x) for x in v]
            if isinstance(v, dict):
                return {k: norm(x) for k, x in v.items()}
            return v

        return sorted(_json.dumps(norm(d), sort_keys=True) for d in docs)

    flagged: list[str] = []
    for case, (server_url, resource, resources) in sorted(cases.items()):
        in_path = os.path.join(tmp, f"{resource}-{case}.json")
        with open(in_path, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in resources))
        fn = get_transform(server_url, resource)
        exp_c = canon_docs(fhir_oracle.process(server_url, resource, resources, RXNAV))
        results = {}
        for parts in (32, 5):
            for in_parts in (1, 7):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                df = read_ndjson(spark, in_path, RESOURCE_SCHEMAS[resource])
                if in_parts > 1:
                    df = df.repartition(in_parts)
                out = fn(df, rx)
                results[(parts, in_parts)] = canon_docs(
                    [_json.loads(r) for r in out.toJSON().collect()]
                )
        base = results[(32, 1)]
        ok = all(v == base for v in results.values()) and base == exp_c
        status = "ok" if ok else "UNSTABLE"
        if not ok:
            flagged.append(case)
        print(f"[perturb-fhir] {status} {case}", file=sys.stderr)

    # ---- multi-file leg ----
    # Replay each golden corpus as TWO landed files through the product
    # driver, pipeline.transform_landed_files, called once per file and
    # once with both files, and assert the union of its outputs equals
    # the oracle output. The driver's unit of correctness is the landed
    # FILE (the conflicted-ids removal sees one file at a time) — the
    # reference's own unit, the export file from the manifest loop
    # (__init__.py:643-665) — so the grouping of files into calls
    # cannot change the output. The files are id-coherent (all rows of
    # a resource id stay in one file): then per-file == whole-corpus
    # semantics, so both groupings must reproduce the oracle
    # bit-for-bit.
    import shutil

    from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import (
        transform_landed_files,
    )

    multifile_flagged: list[str] = []
    for case, (server_url, resource, resources) in sorted(cases.items()):
        exp_c = canon_docs(fhir_oracle.process(server_url, resource, resources, RXNAV))
        # id-coherent split: ids in first-appearance order, first half
        # of ids -> file 0, rest -> file 1 (row order preserved)
        id_order: list[str] = []
        for r in resources:
            rid = r.get("id")
            if rid not in id_order:
                id_order.append(rid)
        first_ids = set(id_order[: max(1, len(id_order) // 2)])
        split = ([], [])
        for r in resources:
            split[0 if r.get("id") in first_ids else 1].append(r)

        results = {}
        for label in ("call_per_file", "one_call"):
            run_dir = os.path.join(tmp, f"multifile-{case}-{label}")
            landing = os.path.join(run_dir, "landing")
            out_dir = os.path.join(run_dir, "out")
            os.makedirs(landing)
            paths = []
            for i, part in enumerate(p for p in split if p):
                paths.append(os.path.join(landing, f"{resource}-{i:03d}.json"))
                with open(paths[-1], "w") as f:
                    f.write("\n".join(_json.dumps(r) for r in part))
            groups = [[p] for p in paths] if label == "call_per_file" else [paths]
            docs = []
            for group in groups:
                for p in transform_landed_files(spark, group, server_url, out_dir, rx):
                    with open(p) as f:
                        docs.extend(_json.loads(line) for line in f if line.strip())
            results[label] = canon_docs(docs)
            shutil.rmtree(run_dir, ignore_errors=True)
        ok = all(v == exp_c for v in results.values())
        status = "ok" if ok else "UNSTABLE"
        if not ok:
            multifile_flagged.append(case)
        print(f"[perturb-fhir-multifile] {status} {case}", file=sys.stderr)

    print(
        json.dumps(
            {
                "mode": "fhir_golden",
                "perturbations": "shuffle.partitions {32,5} x repartition {1,7}",
                "n_cases": len(cases),
                "unstable": flagged,
                "multifile_perturbations": "transform_landed_files "
                "{one call per file, one call for both} over a 2-file "
                "id-coherent landing split",
                "multifile_unstable": multifile_flagged,
            }
        )
    )
    spark.stop()


def scan_layout_check(sf_dir: str, prefixes) -> None:
    """Scan-partitioning determinism sweep over ALL registered queries.

    The shuffle-partitions axis of the main sweep perturbs reduce-side
    fold order; this axis perturbs the MAP side. Shrinking
    ``spark.sql.files.maxPartitionBytes`` (with ``openCostInBytes=0``
    so tiny sf files are not re-packed into one split) multiplies the
    number of scan partitions, which reorders partial-agg folds inside
    the scan stage and re-seeds anything keyed on partition index
    (``rand(seed)``, ``monotonically_increasing_id``,
    ``spark_partition_id``). The driver always runs default layout at
    a fixed sf, so driver-green rows carry ZERO evidence on this axis
    — but a query whose OUTPUT moves with input-split geometry is
    broken at any other scale factor, and at 100 TB layout is never
    the same twice. Runs every registered name (driver-green included)
    under default vs tiny splits at identical shuffle partitions and
    flags any canonical-output difference.

        python tools/perturb_check.py [sf_dir] --scan-layout [prefix...]
    """
    _conf_pair_check(
        sf_dir,
        prefixes,
        mode="scan_layout",
        tag="scan-layout",
        axis_desc="files.maxPartitionBytes 128m/4m-openCost vs 256k/0",
        passes=[
            (
                "default",
                {
                    "spark.sql.files.maxPartitionBytes": "134217728",
                    "spark.sql.files.openCostInBytes": "4194304",
                },
            ),
            (
                "tiny_splits",
                {
                    "spark.sql.files.maxPartitionBytes": "262144",
                    "spark.sql.files.openCostInBytes": "0",
                },
            ),
        ],
    )


def aqe_check(sf_dir: str, prefixes) -> None:
    """AQE-independence sweep: every registered query under
    ``spark.sql.adaptive.enabled`` true vs false.

    The entry point pins TZ/ANSI/nanos on the driver's session but
    deliberately NOT AQE — the engine is supposed to be correct under
    either. AQE's runtime re-planning changes physical shapes the
    static axes can't reach: post-shuffle partition coalescing (fold
    order and partition counts), runtime broadcast-join demotion/
    promotion, and skew-join splitting. A query whose OUTPUT moves
    with any of those has a physical-plan dependency bug that would
    surface on any cluster with different AQE defaults or thresholds.

        python tools/perturb_check.py [sf_dir] --aqe [prefix...]
    """
    _conf_pair_check(
        sf_dir,
        prefixes,
        mode="aqe",
        tag="aqe",
        axis_desc="spark.sql.adaptive.enabled true vs false",
        passes=[
            ("aqe_on", {"spark.sql.adaptive.enabled": "true"}),
            ("aqe_off", {"spark.sql.adaptive.enabled": "false"}),
        ],
    )


def broadcast_check(sf_dir: str, prefixes) -> None:
    """Join-strategy independence sweep: every registered query under
    ``spark.sql.autoBroadcastJoinThreshold`` default (10 MB) vs -1.

    With the threshold at -1 every join Catalyst would have silently
    broadcast becomes a shuffle join (sort-merge or shuffled-hash),
    which changes build/probe sides, row visit order, and partial
    fold order — the physical degrees of freedom a 1000-executor
    cluster exercises when a "small" dim stops being small. Explicit
    ``F.broadcast`` hints are unaffected (that is the point: the
    hinted joins are the audited always-dim-sized ones; this axis
    proves the UNHINTED joins don't depend on the strategy AQE or
    the threshold happened to pick).

        python tools/perturb_check.py [sf_dir] --no-broadcast [prefix...]
    """
    _conf_pair_check(
        sf_dir,
        prefixes,
        mode="broadcast_threshold",
        tag="no-broadcast",
        axis_desc="spark.sql.autoBroadcastJoinThreshold 10m vs -1",
        passes=[
            ("default", {"spark.sql.autoBroadcastJoinThreshold": "10485760"}),
            ("no_auto_broadcast", {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
        ],
    )


def _conf_pair_check(sf_dir, prefixes, mode, tag, axis_desc, passes) -> None:
    from capgemini_himss24_fhirbulkdata_demo_spark import queries as q
    from pyspark.sql import SparkSession

    names = [
        n
        for n in sorted(q.QUERIES)
        if prefixes is None or n.startswith(prefixes)
    ]
    print(
        f"[{tag}] {len(names)} registered queries, sf_dir={sf_dir}",
        file=sys.stderr,
    )
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # every pass sets each knob explicitly — no reliance on ambient
    # defaults surviving earlier queries in the same session
    flagged: list[str] = []
    errs: list[str] = []
    for i, n in enumerate(names):
        try:
            res = []
            for _label, conf in passes:
                spark.conf.set("spark.sql.shuffle.partitions", "32")
                for k, v in conf.items():
                    spark.conf.set(k, v)
                df = q.QUERIES[n](spark, sf_dir)
                res.append(canonical(df.columns, [tuple(r) for r in df.collect()]))
                for dep in getattr(df, "_cached_deps", []):
                    dep.unpersist()
            if res[0] != res[1]:
                flagged.append(n)
                print(f"[{tag}] UNSTABLE {n}", file=sys.stderr)
        except Exception as ex:
            errs.append(n)
            print(f"[{tag}] ERR {n}: {str(ex)[:80]}", file=sys.stderr)
        if (i + 1) % 25 == 0:
            print(f"[{tag}] {i + 1}/{len(names)}", file=sys.stderr)
    print(
        json.dumps(
            {
                "mode": mode,
                "sf_dir": sf_dir,
                "n_checked": len(names),
                "axis": axis_desc,
                f"{mode}_unstable": flagged,
                "errors": errs,
            }
        )
    )
    sys.exit(1 if (flagged or errs) else 0)


def main() -> None:
    if "--fhir" in sys.argv[1:]:
        fhir_perturb()
        return
    if "--scan-layout" in sys.argv[1:]:
        argv = [a for a in sys.argv[1:] if a != "--scan-layout"]
        sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
        scan_layout_check(sf_dir, tuple(argv[1:]) or None)
        return
    if "--aqe" in sys.argv[1:]:
        argv = [a for a in sys.argv[1:] if a != "--aqe"]
        sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
        aqe_check(sf_dir, tuple(argv[1:]) or None)
        return
    if "--no-broadcast" in sys.argv[1:]:
        argv = [a for a in sys.argv[1:] if a != "--no-broadcast"]
        sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
        broadcast_check(sf_dir, tuple(argv[1:]) or None)
        return
    argv = [a for a in sys.argv[1:] if a != "--duck-only"]
    duck_only = "--duck-only" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    prefixes = tuple(argv[1:]) or None

    import duckdb

    from capgemini_himss24_fhirbulkdata_demo_spark import queries as q
    from tests.oracle import TABLES

    green = green_names()
    names = [
        n
        for n in sorted(q.QUERIES)
        if n not in green and (prefixes is None or n.startswith(prefixes))
    ]
    print(f"[perturb] {len(names)} pending queries, sf_dir={sf_dir}", file=sys.stderr)

    # ---- DuckDB: baseline vs each perturbation ----
    # Index 0 is the baseline (the settings the local differential
    # sweep runs under); each later connection changes exactly ONE
    # knob, so a mismatch names its hazard class directly. The env
    # perturbations run over ALL registered names, not just pending:
    # a driver-green query re-drawn as a canary flakes just the same
    # if its oracle is TZ- or null-order-sensitive.
    duck_perturbations = [
        ("baseline", ["SET threads=8"]),
        ("threads1", ["SET threads=1"]),
        ("tz_newyork", ["SET threads=8", "SET TimeZone='America/New_York'"]),
        ("nulls_first", ["SET threads=8", "SET default_null_order='nulls_first'"]),
    ]
    duck_flagged: dict[str, list[str]] = {
        label: [] for label, _ in duck_perturbations[1:]
    }
    cons = []
    for _label, stmts in duck_perturbations:
        con = duckdb.connect()
        for s in stmts:
            con.execute(s)
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        cons.append(con)
    env_names = [
        n
        for n in sorted(q.QUERIES)
        if prefixes is None or n.startswith(prefixes)
    ]
    for i, n in enumerate(env_names):
        sql = q.ORACLE_SQL.get(n)
        if sql is None:
            continue
        pending = n in set(names)
        try:
            r = cons[0].execute(sql)
            base = canonical([d[0] for d in r.description], r.fetchall())
            for (label, _stmts), con in zip(duck_perturbations[1:], cons[1:]):
                if label == "threads1" and not pending:
                    continue  # parallelism pass keeps its pending-only scope
                r = con.execute(sql)
                got = canonical([d[0] for d in r.description], r.fetchall())
                if got != base:
                    duck_flagged[label].append(n)
                    print(f"[perturb] DUCK-UNSTABLE[{label}] {n}", file=sys.stderr)
        except Exception as ex:
            print(f"[perturb] DUCK-ERR {n}: {str(ex)[:80]}", file=sys.stderr)
        if (i + 1) % 50 == 0:
            print(f"[perturb] duckdb {i + 1}/{len(env_names)}", file=sys.stderr)

    # ---- Spark: shuffle.partitions=32 vs 5 (one session, conf is
    # runtime-settable) ----
    spark_flagged: list[str] = []
    if duck_only:
        print(
            json.dumps(
                {
                    "sf_dir": sf_dir,
                    "n_checked": len(names),
                    "n_env_checked": len(env_names),
                    "duck_unstable": duck_flagged["threads1"],
                    "duck_tz_unstable": duck_flagged["tz_newyork"],
                    "duck_null_order_unstable": duck_flagged["nulls_first"],
                    "spark_unstable": None,
                }
            )
        )
        return
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "12g")
        # mirror the __spark_entry__ runtime conf: the queries are
        # written for permissive (non-ANSI) semantics + UTC, which the
        # entry point sets on whatever session the driver hands it —
        # a perturb run without these reports ANSI errors, not
        # instability
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for i, n in enumerate(names):
        try:
            res = []
            for parts in (32, 5):
                spark.conf.set("spark.sql.shuffle.partitions", str(parts))
                df = q.QUERIES[n](spark, sf_dir)
                res.append(canonical(df.columns, [tuple(r) for r in df.collect()]))
                for dep in getattr(df, "_cached_deps", []):
                    dep.unpersist()
            if res[0] != res[1]:
                spark_flagged.append(n)
                print(f"[perturb] SPARK-UNSTABLE {n}", file=sys.stderr)
        except Exception as ex:
            print(f"[perturb] SPARK-ERR {n}: {str(ex)[:80]}", file=sys.stderr)
        if (i + 1) % 25 == 0:
            print(f"[perturb] spark {i + 1}/{len(names)}", file=sys.stderr)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_checked": len(names),
                "n_env_checked": len(env_names),
                "duck_unstable": duck_flagged["threads1"],
                "duck_tz_unstable": duck_flagged["tz_newyork"],
                "duck_null_order_unstable": duck_flagged["nulls_first"],
                "spark_unstable": spark_flagged,
            }
        )
    )


if __name__ == "__main__":
    main()
