"""Seeded input generators: FHIR exports and the analyst tables.

Every generator takes a ``random.Random`` (FHIR) or a NumPy
``Generator`` (tables) built from the run's seed, so the same seed gives
the same bytes. Records carry only fields the engine's curated schemas
declare (transforms/schemas.py), because a field outside the schema is
dropped on read and the oracle would then disagree for a reason that is
not a bug; ``Coverage`` has no curated schema and rides the inferred
pass-through path instead.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from capgemini_himss24_fhirbulkdata_demo_spark.transforms import constants as C

SERVERS = {
    "epic": "https://fhir.epic.bench/api/FHIR/R4",
    "cerner": "https://fhir.cerner.bench/r4/tenant",
    "bcda": "https://sandbox.bcda.bench/api/v2",
}
IMPORT_SERVER = "https://workspace.fhir.bench"

_NDC_POOL = [f"{i:011d}" for i in range(10_000_000_001, 10_000_000_041)]


def make_rxnav(rng: random.Random) -> dict[str, dict]:
    """NDC -> {name, rxnorm}: ~10% lack an rxnorm (record removed), ~10%
    lack a name (removed when the coding has no display either). Codes
    missing from the table entirely also occur in the EOBs."""
    out = {}
    for ndc in _NDC_POOL[:32]:
        name = "" if rng.random() < 0.1 else f"Drug {ndc[-4:]}"
        rxnorm = "" if rng.random() < 0.1 else str(100_000 + rng.randrange(900_000))
        out[ndc] = {"name": name, "rxnorm": rxnorm}
    out[C.SPECIAL_NDC_CODE] = {"name": C.SPECIAL_NDC_DISPLAY, "rxnorm": "106892"}
    return out


def _date(rng: random.Random, start: str, days: int) -> str:
    d = dt.date.fromisoformat(start) + dt.timedelta(days=rng.randrange(days))
    return d.isoformat()


def _coding(rng: random.Random, system: str, code: str, display: bool) -> dict:
    c = {"system": system, "code": code}
    if display:
        c["display"] = f"display {code[-5:]}"
    return c


def make_eob(rng: random.Random, rid: str) -> dict:
    """One ExplanationOfBenefit that exercises every BCDA gate: patient,
    last-match claim type, last-item serviced date, RxNav lookup misses
    and display fills."""
    patient = (
        C.BCDA_DEMO_PATIENT_REF if rng.random() < 0.7 else f"Patient/-{rng.randrange(10**11)}"
    )
    types = [
        {"system": "https://bluebutton.cms.gov/eob-type", "code": "PDE"},
        {"system": C.CLAIM_TYPE_SYSTEM, "code": "pharmacy" if rng.random() < 0.85 else "institutional"},
    ]
    if rng.random() < 0.03:  # a trailing claim-type entry wins
        types.append({"system": C.CLAIM_TYPE_SYSTEM, "code": rng.choice(["pharmacy", "professional"])})
    items = []
    for _ in range(rng.randint(1, 3)):
        codings = [_coding(rng, "https://bluebutton.cms.gov/cpt", str(1000 + rng.randrange(97)), True)]
        for _ in range(rng.randint(1, 2)):
            ndc = rng.choice(_NDC_POOL)  # the last 8 pool codes miss the lookup
            codings.append(_coding(rng, C.NDC_SYSTEM, ndc, rng.random() < 0.7))
        items.append(
            {
                "servicedDate": _date(rng, "2019-11-01", 400)
                if rng.random() < 0.9
                else _date(rng, "2019-01-01", 200),
                "productOrService": {"coding": codings},
                "quantity": {"value": float(rng.randint(1, 90)), "unit": "tabs"},
            }
        )
    return {
        "resourceType": "ExplanationOfBenefit",
        "id": rid,
        "meta": {"versionId": str(rng.randint(1, 9))},
        "patient": {"reference": patient},
        "type": {"coding": types},
        "supportingInfo": [
            {"sequence": 1, "valueQuantity": {"value": float(rng.randint(0, 60))}},
            {"sequence": 2, "valueQuantity": {"value": float(rng.randint(0, 90))}},
        ],
        "item": items,
        "status": "active",
    }


def make_patient(rng: random.Random, rid: str) -> dict:
    return {
        "resourceType": "Patient",
        "id": rid,
        "meta": {"versionId": str(rng.randint(1, 9)), "lastUpdated": _date(rng, "2023-01-01", 365)},
        "identifier": [{"system": "urn:oid:1.2.840.114350", "value": f"MRN{rng.randrange(10**8):08d}"}],
        "name": [{"family": rng.choice(["Smith", "Jones", "Garcia", "Chen"]), "given": ["Alex"]}],
        "gender": rng.choice(["female", "male", "other"]),
        "birthDate": _date(rng, "1930-01-01", 30000),
    }


def make_condition(rng: random.Random, rid: str) -> dict:
    return {
        "resourceType": "Condition",
        "id": rid,
        "code": {
            "coding": [{"system": "http://snomed.info/sct", "code": str(rng.randrange(10**8)), "display": "dx"}],
            "text": "diagnosis",
        },
        "recordedDate": _date(rng, "2010-01-01", 4000),
        "clinicalStatus": {"coding": [{"system": "http://hl7.org/cs", "code": "active"}]},
        "subject": {"reference": f"Patient/{rng.randrange(10**6)}"},
    }


def make_medication_request(rng: random.Random, rid: str) -> dict:
    return {
        "resourceType": "MedicationRequest",
        "id": rid,
        "medicationReference": {"reference": f"Medication/{rng.randrange(10**5)}", "display": "med"},
        "authoredOn": _date(rng, "2015-01-01", 2000),
        "dispenseRequest": {
            "validityPeriod": {"start": _date(rng, "2015-01-01", 900), "end": _date(rng, "2018-01-01", 900)},
            "numberOfRepeatsAllowed": rng.randint(0, 5),
            "quantity": {"value": float(rng.randint(1, 100)), "unit": "tab", "system": "s", "code": "tab"},
        },
        "status": rng.choice(["active", "completed"]),
        "subject": {"reference": f"Patient/{rng.randrange(10**6)}"},
    }


def make_coverage(rng: random.Random, rid: str) -> dict:
    return {
        "resourceType": "Coverage",
        "id": rid,
        "status": "active",
        "beneficiary": {"reference": f"Patient/-{rng.randrange(10**11)}"},
        "payor": [{"identifier": {"value": "CMS"}}],
        "period": {"start": _date(rng, "2000-01-01", 7000)},
        "order": rng.randint(1, 3),
    }


_MAKERS = {
    "ExplanationOfBenefit": make_eob,
    "Patient": make_patient,
    "Condition": make_condition,
    "MedicationRequest": make_medication_request,
    "Coverage": make_coverage,
}
_DEMO_IDS = {
    ("epic", "Patient"): C.EPIC_DEMO_PATIENT_ID,
    ("cerner", "Patient"): C.CERNER_DEMO_PATIENT_ID,
    ("bcda", "ExplanationOfBenefit"): C.BCDA_SPECIAL_EOB_ID,
}


def make_resources(rng: random.Random, source: str, rtype: str, n: int, tag: str) -> list[dict]:
    """``n`` resources of one type for one source. Each file carries the
    source's demo id once (the point-update branches) and ~2% repeated
    ids, so the EOB duplicate-id (conflicted-id) path always runs."""
    make = _MAKERS[rtype]
    out: list[dict] = []
    demo = _DEMO_IDS.get((source, rtype))
    demo_at = rng.randrange(n) if demo else -1
    for i in range(n):
        if i == demo_at:
            rid = demo
        elif out and rng.random() < 0.02:
            rid = out[rng.randrange(len(out))]["id"]
        else:
            rid = f"{rtype[:3].lower()}-{tag}-{i}"
        out.append(make(rng, rid))
    return out


@dataclass
class ExportFile:
    rtype: str
    records: list[dict]
    payload: bytes = b""

    def __post_init__(self):
        self.payload = "".join(json.dumps(r) + "\n" for r in self.records).encode()


@dataclass
class ExportRequest:
    """One ``bulkimport/latest`` request: which source, and the files its
    ``$export`` yields this time."""

    source: str
    files: list[ExportFile] = field(default_factory=list)

    @property
    def server_url(self) -> str:
        return SERVERS[self.source]

    @property
    def n_records(self) -> int:
        return sum(len(f.records) for f in self.files)


# (source, ((resource type, records), ...)) per small delta. The seed
# fills the records but never changes a request's shape, so the run's
# volume does not vary by seed. The four non-EOB deltas have the same
# file count, so their latencies pool around the median.
LATEST_DELTAS = (
    ("epic", (("Patient", 1300), ("Condition", 400))),
    ("cerner", (("Patient", 900), ("MedicationRequest", 2000))),
    ("bcda", (("ExplanationOfBenefit", 1100), ("Patient", 600), ("Coverage", 1500))),
    ("epic", (("MedicationRequest", 1700), ("Patient", 100))),
    ("cerner", (("MedicationRequest", 700), ("Patient", 1000))),
)


def latest_requests(rng: random.Random) -> list[ExportRequest]:
    """One cycle of small incremental deltas across epic, cerner and
    bcda, covering every (source, resource type) the transforms know
    plus the pass-through types."""
    return [
        ExportRequest(
            source,
            [ExportFile(rtype, make_resources(rng, source, rtype, n, f"{source}{k}f{j}")) for j, (rtype, n) in enumerate(files)],
        )
        for k, (source, files) in enumerate(LATEST_DELTAS)
    ]


# ------------------------------------------------------------ tables

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """The ``events`` table, time-ordered over 30 days."""
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": _ts("2024-01-01T00:00:00", offs),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
            "value": pa.array(np.round(rng.gamma(2.0, 20.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """The fixture tables the analyst queries read (lineitem, orders,
    customer, events, embeddings) at scale ``sf``, with the column names,
    types and value ranges of the repository's fixtures."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_vec = int(1_500_000 * sf), int(1_000_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731

    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    day_us = 86_400 * 10**6
    o_days = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01T00:00:00", o_days * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(okey),
        "l_partkey": i64(rng.integers(0, n_part, n_li)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(lnum),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-01T00:00:00", (o_days[okey] + rng.integers(1, 122, n_li)) * day_us),
    })
    pq.write_table(make_events(rng, n_ev, max(50, int(15_000 * sf))), os.path.join(out_dir, "events.parquet"))
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.12, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vec, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(n_vec)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    })
