"""Synthetic FHIR NDJSON generator for throughput benchmarking.

Deterministic (seeded by record index, no RNG state) EOB documents in
the exact shape the BCDA pipeline touches — the reference's heaviest
branch (``FetchBulkData/__init__.py:458-533``): every gate, the
supportingInfo positional writes, multi-coding NDC enrichment, and
the duplicate-id removal all exercise.
"""

from __future__ import annotations

import json
import os

from . import constants as C

_NDCS = ["11111", "22222", "33333", "44444", "55555"]

RXNAV_BENCH = {
    "11111": {"name": "Drug A", "rxnorm": "100001"},
    "22222": {"name": "Drug B", "rxnorm": "100002"},
    "33333": {"name": "", "rxnorm": "100003"},
    "44444": {"name": "Drug D", "rxnorm": ""},  # rxnorm-missing -> removed
    "55555": {"name": "Drug E", "rxnorm": "100005"},
}


def make_eob(i: int) -> dict:
    """One synthetic EOB; ~1 in 8 fails the patient gate, 1 in 8 the
    claim-type gate, 1 in 8 the date gate, some fail enrichment."""
    patient = C.BCDA_DEMO_PATIENT_REF if i % 8 != 0 else f"Patient/other-{i}"
    claim = "pharmacy" if i % 8 != 1 else "institutional"
    serviced = "2019-11-05" if i % 8 != 2 else "2019-01-01"
    ndc = _NDCS[i % len(_NDCS)]
    return {
        "resourceType": "ExplanationOfBenefit",
        "id": f"eob-{i}",
        "meta": {"versionId": "1"},
        "patient": {"reference": patient},
        "type": {
            "coding": [
                {"system": "other", "code": "x"},
                {"system": C.CLAIM_TYPE_SYSTEM, "code": claim},
            ]
        },
        "supportingInfo": [
            {"sequence": 1, "valueQuantity": {"value": float(i % 50)}},
            {"sequence": 2, "valueQuantity": {"value": float(i % 30)}},
        ],
        "item": [
            {
                "servicedDate": serviced,
                "productOrService": {
                    "coding": [
                        {"system": "cpt", "code": str(1000 + i % 97)},
                        {"system": C.NDC_SYSTEM, "code": ndc, "display": f"Drug {ndc}"},
                    ]
                },
                "quantity": {"value": float(1 + i % 9), "unit": "x"},
            }
        ],
        "status": "active",
    }


def write_eob_ndjson(path: str, n: int) -> str:
    with open(path, "w") as f:
        for i in range(n):
            f.write(json.dumps(make_eob(i)))
            f.write("\n")
    return path


# Files per synthetic landing directory (``write_eob_ndjson_dir``).
EOB_LANDING_FILES = 64


def write_eob_ndjson_dir(path: str, n: int) -> str:
    """Write ``n`` synthetic EOBs as a LANDING DIRECTORY of
    ``EOB_LANDING_FILES`` NDJSON files (contiguous record blocks per
    file).

    A real bulk-export landing dir is many files — the reference
    iterates a manifest of output-file URLs (``__init__.py:643-665``)
    — and a multi-file corpus is what lets Spark's default 128 MB
    split config parallelize the scan naturally. The single-file
    writer above under-parallelized the r6 bench under default confs
    (one ~100 MB file → a handful of splits on 32 cores; r6 verdict
    What's-wrong #2)."""
    os.makedirs(path, exist_ok=True)
    per = (n + EOB_LANDING_FILES - 1) // EOB_LANDING_FILES
    for j in range(EOB_LANDING_FILES):
        lo, hi = j * per, min((j + 1) * per, n)
        if lo >= hi:
            break
        with open(os.path.join(path, f"eobs-{j:05d}.ndjson"), "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps(make_eob(i)))
                f.write("\n")
    return path
