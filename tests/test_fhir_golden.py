"""Golden fidelity tests (SURVEY §5.2.1): the Spark FHIR transform
pipeline vs the pure-Python oracle, per-id canonical-JSON equality,
through the product driver ``pipeline.transform_landed_file`` on one
landed file."""

from __future__ import annotations

import json
import os

import pytest

from capgemini_himss24_fhirbulkdata_demo_spark import pipeline
from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson, write_ndjson
from capgemini_himss24_fhirbulkdata_demo_spark.transforms import constants as C
from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
    RESOURCE_SCHEMAS,
    RXNAV_LOOKUP_SCHEMA,
)

from perfbench.checks import canonical

from . import fhir_oracle

# ---------------------------------------------------------- fixtures

PATIENTS_EPIC = [
    {
        "resourceType": "Patient",
        "id": "egqBHVfQlt4Bw3XGXoxVxHg3",
        "meta": {"versionId": "1", "lastUpdated": "2023-01-01T00:00:00Z"},
        "identifier": [{"system": "urn:oid:1.2", "value": "OLD"}],
        "name": [{"family": "Demo", "given": ["Pat"]}],
        "gender": "female",
    },
    {
        "resourceType": "Patient",
        "id": "other-1",
        "meta": {"versionId": "3"},
        "identifier": [{"system": "urn:oid:9.9", "value": "KEEP"}],
        "name": [{"family": "Untouched", "given": ["A", "B"]}],
        "birthDate": "1980-02-02",
    },
    {"resourceType": "Patient", "id": "other-2", "gender": "male"},
]

PATIENTS_CERNER = [
    {
        "resourceType": "Patient",
        "id": "5123829",
        "meta": {"versionId": "7", "lastUpdated": "2023-05-05T00:00:00Z"},
        "identifier": [{"system": "urn:oid:2.2", "value": "OLD2"}],
        "gender": "male",
    },
    {
        "resourceType": "Patient",
        "id": "zzz",
        "meta": {"versionId": "9"},
        "name": [{"family": "Keep"}],
    },
]

CONDITIONS = [
    {
        "resourceType": "Condition",
        "id": "cond-1",
        "code": {"coding": [{"system": "old", "code": "X1"}], "text": "old text"},
        "recordedDate": "2001-01-01",
        "clinicalStatus": {"coding": [{"system": "s", "code": "active"}]},
        "subject": {"reference": "Patient/egqBHVfQlt4Bw3XGXoxVxHg3"},
    },
    {"resourceType": "Condition", "id": "cond-2", "recordedDate": "1999-09-09"},
]

MEDREQS_EPIC = [
    {
        "resourceType": "MedicationRequest",
        "id": "mr-1",
        "medicationReference": {"reference": "Medication/abc", "display": "Old med"},
        "authoredOn": "2001-01-01",
        "dispenseRequest": {
            "validityPeriod": {"start": "2001-01-01", "end": "2001-06-01"},
            "numberOfRepeatsAllowed": 5,
            "quantity": {"value": 3.0, "unit": "tabs", "system": "old", "code": "tab"},
        },
        "status": "active",
    },
    {
        # no medicationReference — exercises the tolerant delete
        "resourceType": "MedicationRequest",
        "id": "mr-2",
        "authoredOn": "2002-02-02",
        "dispenseRequest": {
            "validityPeriod": {"start": "2002-01-01", "end": "2002-06-01"},
            "quantity": {"value": 1.0, "unit": "cap"},
        },
        "subject": {"reference": "Patient/p"},
    },
]

MEDREQS_CERNER = [
    {
        "resourceType": "MedicationRequest",
        "id": "mrc-1",
        "authoredOn": "2003-03-03",
        "dispenseRequest": {
            "validityPeriod": {"start": "2003-01-01", "end": "2003-06-01"},
            "quantity": {"value": 2.0, "unit": "ml"},
        },
        "status": "draft",
    }
]

_CT = "http://terminology.hl7.org/CodeSystem/claim-type"
_NDC = "http://hl7.org/fhir/sid/ndc"
_PAT = "Patient/-10000000000027"


def _eob(eid, patient=_PAT, claim="pharmacy", serviced="2019-11-05", codings=None, extra_type=None):
    type_coding = [{"system": "other-sys", "code": "zz"}, {"system": _CT, "code": claim}]
    if extra_type:
        type_coding.append(extra_type)
    return {
        "resourceType": "ExplanationOfBenefit",
        "id": eid,
        "meta": {"versionId": "2"},
        "patient": {"reference": patient},
        "type": {"coding": type_coding},
        "supportingInfo": [
            {"sequence": 1, "valueQuantity": {"value": 12.0}},
            {"sequence": 2, "valueQuantity": {"value": 34.0}},
        ],
        "item": [
            {
                "servicedDate": serviced,
                "productOrService": {
                    "coding": codings
                    if codings is not None
                    else [{"system": _NDC, "code": "11111", "display": "Drug A"}]
                },
                "quantity": {"value": 5.0, "unit": "x"},
            }
        ],
        "status": "active",
    }


EOBS = [
    _eob("eob-wrong-patient", patient="Patient/nope"),
    _eob("eob-not-pharmacy", claim="dental"),
    _eob("eob-too-early", serviced="2019-10-01"),
    _eob("eob-no-rxnorm", codings=[{"system": _NDC, "code": "nope1", "display": "D"}]),
    _eob("eob-no-name-no-display", codings=[{"system": _NDC, "code": "noname"}]),
    _eob("eob-display-filled", codings=[{"system": _NDC, "code": "22222"}]),
    _eob(
        "pde--10000000760",
        codings=[{"system": _NDC, "code": "oldcode", "display": "Old"}],
    ),
    _eob(
        "eob-ordinary",
        codings=[
            {"system": "cpt", "code": "999"},
            {"system": _NDC, "code": "11111", "display": "Drug A"},
            {"system": _NDC, "code": "33333", "display": "Drug C"},
        ],
    ),
    # claim-type "last match wins": first claim-type says pharmacy,
    # a second claim-type entry says dental -> removed.
    _eob("eob-last-claimtype", extra_type={"system": _CT, "code": "dental"}),
]

RXNAV = {
    "11111": {"name": "Drug A Full", "rxnorm": "100001"},
    "22222": {"name": "Drug B Full", "rxnorm": "100002"},
    "33333": {"name": "", "rxnorm": "100003"},  # display exists -> kept, name ''
    "00002871501": {"name": "Humulin Full", "rxnorm": "106892"},
    "nope1": {"name": "X", "rxnorm": ""},
    "noname": {"name": "", "rxnorm": "100009"},
}

CASES = {
    "epic-Patient": ("https://fhir.epic.example/api", "Patient", PATIENTS_EPIC),
    "epic-Condition": ("https://fhir.epic.example/api", "Condition", CONDITIONS),
    "epic-MedicationRequest": ("https://fhir.epic.example/api", "MedicationRequest", MEDREQS_EPIC),
    "cerner-Patient": ("https://fhir.cerner.example/r4", "Patient", PATIENTS_CERNER),
    "cerner-MedicationRequest": ("https://fhir.cerner.example/r4", "MedicationRequest", MEDREQS_CERNER),
    "bcda-ExplanationOfBenefit": ("https://bcda.cms.example/api", "ExplanationOfBenefit", EOBS),
}


def _canon(resources):
    """id -> canonical (key-sorted, parsed) form; numeric 10 == 10.0."""
    return {r["id"]: json.loads(json.dumps(r, sort_keys=True)) for r in resources}


def _rxnav_df(spark):
    rows = [(k, v["name"], v["rxnorm"]) for k, v in sorted(RXNAV.items())]
    return spark.createDataFrame(rows, RXNAV_LOOKUP_SCHEMA)


def _run_transform(spark, tmp_path, server_url, resource, resources):
    """Land ``resources`` as one bulk-export NDJSON file, run it through
    the product driver; returns the rows of its output file."""
    assert get_transform(server_url, resource) is not None, (
        f"no transform for {server_url} {resource}"
    )
    landing = os.path.join(tmp_path, "landing")
    os.makedirs(landing)
    in_path = os.path.join(landing, f"{resource}-client-0001.json")
    with open(in_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in resources))

    out = pipeline.transform_landed_file(
        spark, in_path, server_url, os.path.join(tmp_path, "out"), _rxnav_df(spark)
    )
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.mark.parametrize("case", sorted(CASES))
def test_golden_vs_oracle(case, spark, tmp_path):
    server_url, resource, resources = CASES[case]
    got = _run_transform(spark, tmp_path, server_url, resource, resources)
    expected = fhir_oracle.process(server_url, resource, resources, RXNAV)

    got_c, exp_c = _canon(got), _canon(expected)
    assert sorted(got_c) == sorted(exp_c), (
        f"{case}: id sets differ\n got={sorted(got_c)}\n exp={sorted(exp_c)}"
    )
    for rid in exp_c:
        assert got_c[rid] == exp_c[rid], (
            f"{case}: resource {rid} differs\n got={json.dumps(got_c[rid], sort_keys=True)}\n"
            f" exp={json.dumps(exp_c[rid], sort_keys=True)}"
        )


def test_eob_duplicate_ids_vs_oracle(spark, tmp_path):
    """T17's duplicate-id rule: a record is removed when ANY record
    sharing its id fails a gate. An id carried by a passing and a
    failing row loses both, an id carried by two passing rows keeps
    both, and null ids count as one shared id. The rule's unit is the
    landed file."""
    # a fresh list per row: the oracle edits records in place
    drug_c = lambda: [{"system": _NDC, "code": "33333", "display": "Drug C"}]  # noqa: E731
    rows = [
        _eob("dup-mixed"),
        _eob("dup-mixed", claim="dental"),
        _eob("dup-pass"),
        _eob("dup-pass", codings=drug_c()),
        {**_eob("null-pass"), "id": None},
        {**_eob("null-fail", patient="Patient/nope"), "id": None},
        _eob("single-pass", codings=drug_c()),
    ]
    url = "https://bcda.cms.example/api"
    got = canonical(_run_transform(spark, tmp_path, url, "ExplanationOfBenefit", rows))
    expected = canonical(fhir_oracle.process(url, "ExplanationOfBenefit", rows, RXNAV))
    assert sorted(expected) == ["dup-pass", "single-pass"]
    assert len(expected["dup-pass"]) == 2
    assert got == expected


MEDREQS_MISSING_STRUCTS = [
    {"resourceType": "MedicationRequest", "id": "mr-no-dispense", "status": "active"},
    {
        "resourceType": "MedicationRequest",
        "id": "mr-no-validity",
        "dispenseRequest": {"quantity": {"value": 1.0, "unit": "cap"}},
    },
    {
        "resourceType": "MedicationRequest",
        "id": "mr-no-quantity",
        "dispenseRequest": {"validityPeriod": {"start": "2002-01-01"}},
    },
]


@pytest.mark.parametrize("source", ["epic", "cerner"])
def test_medication_request_missing_structs_stay_absent(source, spark, tmp_path):
    """A struct the record lacks is not conjured by a nested field
    write: dispenseRequest, validityPeriod and quantity stay absent
    (the reference would raise KeyError on these records)."""
    url = {"epic": CASES["epic-MedicationRequest"][0], "cerner": CASES["cerner-MedicationRequest"][0]}
    got = {
        r["id"]: r
        for r in _run_transform(
            spark, tmp_path, url[source], "MedicationRequest", MEDREQS_MISSING_STRUCTS
        )
    }
    assert sorted(got) == ["mr-no-dispense", "mr-no-quantity", "mr-no-validity"]
    assert "dispenseRequest" not in got["mr-no-dispense"]
    assert "validityPeriod" not in got["mr-no-validity"]["dispenseRequest"]
    assert "quantity" in got["mr-no-validity"]["dispenseRequest"]
    assert "quantity" not in got["mr-no-quantity"]["dispenseRequest"]
    assert got["mr-no-quantity"]["dispenseRequest"]["validityPeriod"] == {
        "start": C.VALIDITY_PERIOD_START,
        "end": C.VALIDITY_PERIOD_END,
    }


def test_identity_for_unmapped_source(spark, tmp_path):
    """Resources from unknown sources pass through untouched."""
    assert get_transform("https://unknown.example", "Patient") is None


def test_roundtrip_untouched_fields(spark, tmp_path):
    """NDJSON read→write identity on fields the pipeline never touches
    (SURVEY §5.2.3 property test)."""
    in_path = os.path.join(tmp_path, "Patient-x-1.json")
    with open(in_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in PATIENTS_EPIC))
    df = read_ndjson(spark, in_path, RESOURCE_SCHEMAS["Patient"])
    out_dir = os.path.join(tmp_path, "rt")
    write_ndjson(df, out_dir)
    got = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as f:
                got.extend(json.loads(line) for line in f if line.strip())
    assert _canon(got) == _canon(PATIENTS_EPIC)


def test_null_patient_reference_removed(spark, tmp_path):
    """Regression: a null/missing patient.reference must land on the
    removed list (reference semantics: None != demo ref), not slip
    through three-valued logic."""
    rows = [
        {**_eob("eob-null-patient"), "patient": {}},
        _eob("eob-kept"),
    ]
    in_path = os.path.join(tmp_path, "ExplanationOfBenefit-c-9.json")
    with open(in_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    df = read_ndjson(spark, in_path, RESOURCE_SCHEMAS["ExplanationOfBenefit"])
    out = get_transform("https://bcda.x", "ExplanationOfBenefit")(df, _rxnav_df(spark))
    ids = [r.id for r in out.select("id").collect()]
    assert ids == ["eob-kept"]


def test_eob_without_claim_type_or_items_removed(spark, tmp_path):
    """Regression: rows with no claim-type coding or an empty item
    array are removed (null-on-miss semantics), not crashed on
    (ANSI-off policy; the reference would NameError/KeyError here —
    removal is the engine's documented tolerant divergence)."""
    rows = [
        {**_eob("eob-no-claimtype"), "type": {"coding": [{"system": "other", "code": "x"}]}},
        {**_eob("eob-empty-items"), "item": []},
        _eob("eob-kept2"),
    ]
    in_path = os.path.join(tmp_path, "ExplanationOfBenefit-c-10.json")
    with open(in_path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    df = read_ndjson(spark, in_path, RESOURCE_SCHEMAS["ExplanationOfBenefit"])
    out = get_transform("https://bcda.x", "ExplanationOfBenefit")(df, _rxnav_df(spark))
    ids = [r.id for r in out.select("id").collect()]
    assert ids == ["eob-kept2"]
