"""FHIR per-record transforms, Spark-first (SURVEY §2A T2–T17).

Each transform re-expresses one branch of the reference's
``process_demo_data`` (``FetchBulkData/__init__.py:357-536``) as a
narrow DataFrame pipeline over higher-order functions — no Python
UDFs anywhere (SURVEY §4.3.3). A routine import is a small delta, so
what a transform costs per call matters as much as per record:

- Expression trees are built once per Py4J gateway
  (``_per_gateway``) and reused for every file. They are unresolved
  Columns made of constants; no DataFrame, plan or result is kept.
- Nested struct writes rebuild one struct at a time
  (``withField("quantity", q.withField("value", …))``). A chain of
  dotted ``withField("quantity.value", …)`` calls re-embeds the whole
  previous struct expression at every step, and the plan grows with
  each link of the chain.
- RxNav enrichment (T13, ``__init__.py:504-522,538-543``): the
  reference does one synchronous HTTP GET *per record occurrence*;
  here the distinct-NDC lookup table is reference data, collected
  once per lookup DataFrame (the first time a transform uses it) and
  inlined as a MAP literal, applied inside the array rewrite — no
  join, no Python in the hot path, and no Spark job per file.
- Removed ids (T17, ``__init__.py:533``): the reference scans a
  Python *list* per record (O(N·R)) and drops every record whose id
  is on it; here ``min(keep) OVER (PARTITION BY id)`` keeps a row
  only if every row sharing its id passes the gates — the same
  duplicate-id rule in one source scan. Over a multi-partition input
  the window costs one shuffle by id; the pipeline reads each landed
  file as one partition, which already satisfies the window, so
  there it costs none.

Fidelity notes (quirks preserved):
- claim_type is the *last* matching type.coding entry
  (``__init__.py:469-471`` loop overwrite) → ``element_at(filter(...), -1)``.
- serviced_date is the *last* item's servicedDate
  (``__init__.py:477-478``) and is compared *lexically* as an ISO
  string (``__init__.py:481``).
- RxNorm entries are appended after the original coding list in NDC
  order (append-during-iteration lands at the tail).
- Integer literals the reference writes (10, 30, 90, 0, 2) surface
  as JSON numbers; schema types follow FIXTURES.md §B.
- A struct the record lacks (``dispenseRequest``, ``quantity``,
  ``validityPeriod``) stays absent: a field write into a null struct
  yields null, where the reference would raise ``KeyError``.
"""

from __future__ import annotations

import functools
import json
import logging
import threading
import weakref
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from . import constants as C
from .schemas import (
    CONDITION_SCHEMA,
    MEDICATION_REQUEST_SCHEMA,
    PATIENT_SCHEMA,
)

logger = logging.getLogger(__name__)


def _lit_json(value, dtype) -> Column:
    """A typed literal from a Python JSON value (schema-checked);
    constant-folded by the optimizer."""
    return F.from_json(F.lit(json.dumps(value)), dtype)


def _field_type(schema, name: str):
    return schema[name].dataType


def _per_gateway(build):
    """Memoize ``build(*args)`` per Py4J gateway.

    Building a Column costs one Py4J round trip per node — about 1,900
    for the EOB rewrite, most of a small request's plan-build time.
    The trees are unresolved and made only of constants and column
    names, so one copy serves every DataFrame on that JVM. A new
    gateway (a relaunched JVM) rebuilds them.
    """
    built: dict[tuple, tuple] = {}

    @functools.wraps(build)
    def get(*args):
        gw = SparkContext._gateway
        hit = built.get(args)
        if hit is None or hit[0] is not gw:
            hit = built[args] = (gw, build(*args))
        return hit[1]

    return get


# ------------------------------------------------------------ Patient

@_per_gateway
def _patient_exprs(demo_id: str, drop_meta: bool) -> dict[str, Column]:
    """T3: point-update the demo patient's identifier (epic
    ``__init__.py:404-411``; cerner also deletes meta ``:441-449``)."""
    ident_t = _field_type(PATIENT_SCHEMA, "identifier")
    is_demo = F.col("id") == demo_id
    exprs = {
        "identifier": F.when(
            is_demo, _lit_json([C.DEMO_PATIENT_IDENTIFIER], ident_t)
        ).otherwise(F.col("identifier"))
    }
    if drop_meta:
        meta_t = _field_type(PATIENT_SCHEMA, "meta")
        exprs["meta"] = F.when(is_demo, F.lit(None).cast(meta_t)).otherwise(F.col("meta"))
    return exprs


def epic_patient(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    return df.withColumns(_patient_exprs(C.EPIC_DEMO_PATIENT_ID, False))


def cerner_patient(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    return df.withColumns(_patient_exprs(C.CERNER_DEMO_PATIENT_ID, True))


# ---------------------------------------------------------- Condition

@_per_gateway
def _condition_exprs() -> dict[str, Column]:
    code_t = _field_type(CONDITION_SCHEMA, "code")
    return {
        "code": _lit_json(C.DEMO_CONDITION_CODE, code_t),
        "recordedDate": F.lit(C.DEMO_CONDITION_RECORDED_DATE),
    }


def epic_condition(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T4: overwrite ``code`` + ``recordedDate`` on every row
    (``__init__.py:412-419``)."""
    return df.withColumns(_condition_exprs())


# -------------------------------------------------- MedicationRequest

def _demo_validity_period(dispense: Column) -> Column:
    return dispense.validityPeriod.withField(
        "start", F.lit(C.VALIDITY_PERIOD_START)
    ).withField("end", F.lit(C.VALIDITY_PERIOD_END))


@_per_gateway
def _epic_medreq_exprs() -> dict[str, Column]:
    mcc_t = _field_type(MEDICATION_REQUEST_SCHEMA, "medicationCodeableConcept")
    dr = F.col("dispenseRequest")
    quantity = (
        dr.quantity.withField("value", F.lit(10.0))
        .withField("unit", F.lit("ml"))
        .withField("system", F.lit("http://unitsofmeasure.org"))
        .withField("code", F.lit("ml"))
    )
    return {
        "medicationCodeableConcept": _lit_json(C.DEMO_MEDICATION_CODEABLECONCEPT, mcc_t),
        "authoredOn": F.lit(C.EPIC_MEDREQ_AUTHORED_ON),
        "dispenseRequest": dr.withField("validityPeriod", _demo_validity_period(dr))
        .withField("numberOfRepeatsAllowed", F.lit(2).cast("long"))
        .withField("quantity", quantity),
    }


def epic_medication_request(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T5 (field removal) + T4 (overwrite) + T6 (nested struct writes)
    (``__init__.py:420-437``)."""
    if "medicationReference" in df.columns:
        df = df.drop("medicationReference")  # tolerant del (:425-428)
    return df.withColumns(_epic_medreq_exprs())


@_per_gateway
def _cerner_medreq_exprs() -> dict[str, Column]:
    dr = F.col("dispenseRequest")
    return {
        "authoredOn": F.lit(C.CERNER_MEDREQ_AUTHORED_ON),
        "dispenseRequest": dr.withField("validityPeriod", _demo_validity_period(dr)),
    }


def cerner_medication_request(df: DataFrame, rxnav: DataFrame | None = None) -> DataFrame:
    """T6 subset for cerner (``__init__.py:450-456``)."""
    return df.withColumns(_cerner_medreq_exprs())


# ----------------------------------------------- ExplanationOfBenefit

_RX_MAP_TYPE = MapType(
    StringType(),
    StructType([StructField("name", StringType()), StructField("rxnorm", StringType())]),
)


# Lookup DataFrame -> its {ndc: {name, rxnorm}} snapshot. Weak keys:
# a lookup the caller drops takes its snapshot with it.
_rx_snapshots: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_rx_snapshots_lock = threading.Lock()


def _rx_map_literal(rxnav: DataFrame) -> Column:
    """The (ndc, name, rxnorm) lookup as one MAP literal (T13's
    distinct-prefetch rewrite, SURVEY §4.3.1).

    Assumes the lookup is reference data with one row per distinct NDC
    — at most a few thousand rows — inlined into the plan, which
    spares the per-file aggregate stage and broadcast a join would
    cost. It is collected the first time a transform sees this
    DataFrame object and reused after that, so a request's EOB files
    share one read; a caller refreshes it by passing a new DataFrame.
    The lock makes concurrent files of one request wait for the first
    read instead of each collecting.
    """
    with _rx_snapshots_lock:
        lookup = _rx_snapshots.get(rxnav)
        if lookup is None:
            lookup = _rx_snapshots[rxnav] = {
                r["ndc"]: {"name": r["name"], "rxnorm": r["rxnorm"]}
                for r in rxnav.collect()
            }
            logger.info("RxNav lookup snapshot taken: %d NDCs", len(lookup))
    return _lit_json(lookup, _RX_MAP_TYPE)


def _with_coding(item: Column, coding: Column) -> Column:
    return item.withField(
        "productOrService", item.productOrService.withField("coding", coding)
    )


@_per_gateway
def _eob_exprs() -> tuple[Column, Column, dict[str, Column]]:
    """(special-id rewrite of ``item``, survivor flag, survivor
    mutations) for T7–T17; the lookup is read from column ``_rx_map``."""
    is_special = F.col("id") == C.BCDA_SPECIAL_EOB_ID
    is_ndc = lambda c: c.system == C.NDC_SYSTEM  # noqa: E731
    rx_of = lambda c: F.element_at(F.col("_rx_map"), c.code)  # noqa: E731
    rxnorm_of = lambda c: F.coalesce(rx_of(c)["rxnorm"], F.lit(""))  # noqa: E731
    name_of = lambda c: F.coalesce(rx_of(c)["name"], F.lit(""))  # noqa: E731

    # Special-id NDC code/display rewrite happens BEFORE lookup
    # (the lookup key is the rewritten code, ``__init__.py:498-505``).
    def rewrite_coding(c):
        return F.when(
            is_ndc(c) & is_special,
            c.withField("code", F.lit(C.SPECIAL_NDC_CODE)).withField(
                "display", F.lit(C.SPECIAL_NDC_DISPLAY)
            ),
        ).otherwise(c)

    special_item = F.transform(
        "item",
        lambda it: _with_coding(it, F.transform(it.productOrService.coding, rewrite_coding)),
    )

    # Gates — a row failing any gate lands on the removed-ids list
    # (``__init__.py:459-515``). Survivor predicate = conjunction.
    claim_type = F.element_at(
        F.filter(F.col("type.coding"), lambda c: c.system == C.CLAIM_TYPE_SYSTEM), -1
    )["code"]
    serviced_date = F.element_at(F.col("item"), -1)["servicedDate"]
    ndc_exists = lambda pred: F.coalesce(  # noqa: E731
        F.exists(
            "item",
            lambda it: F.coalesce(
                F.exists(it.productOrService.coding, pred), F.lit(False)
            ),
        ),
        F.lit(False),
    )
    fail_rxnorm = ndc_exists(lambda c: is_ndc(c) & (rxnorm_of(c) == ""))
    fail_name = ndc_exists(lambda c: is_ndc(c) & c.display.isNull() & (name_of(c) == ""))
    keep = (
        # coalesce: a null reference must land on the removed list
        # (reference: None != demo_ref -> removed), not vanish into
        # three-valued logic
        F.coalesce(
            F.col("patient.reference") == C.BCDA_DEMO_PATIENT_REF, F.lit(False)
        )
        & (F.coalesce(claim_type, F.lit("")) == "pharmacy")
        & (F.coalesce(serviced_date, F.lit("")) >= C.SERVICED_DATE_MIN)  # lexical ISO
        & ~fail_rxnorm
        & ~fail_name
    )
    # T17: the reference drops every record whose id is on the removed
    # list, so one failing row removes all rows sharing its id — a
    # plain filter(keep) would keep the passing duplicates. min(keep)
    # over the id partition is that rule in one pass: at most one
    # shuffle of the documents and one source scan, where a flags
    # aggregate joined back to the rows parses the source twice. Null
    # ids partition together, as they share the reference's list
    # entry ``None``.
    keep_all = F.min(keep).over(Window.partitionBy("id"))

    # Mutations (survivors always pass every gate, so unconditional).
    # T11: positional supportingInfo writes (``__init__.py:489-493``).
    def set_value(x, v):
        return x.withField("valueQuantity", x.valueQuantity.withField("value", v))

    supporting_info = F.transform(
        "supportingInfo",
        lambda x, i: F.when(i == 0, set_value(x, F.lit(0.0)))
        .when(i == 1, set_value(x, F.when(is_special, F.lit(30.0)).otherwise(F.lit(90.0))))
        .otherwise(x),
    )

    # T12/T13/T15: display fill, RxNorm append, quantity writes.
    # Known quirk divergence: the reference gates on key ABSENCE
    # ('display' not in code.keys(), __init__.py:498), so a malformed
    # record carrying an explicit "display": null is left untouched
    # there but filled here — the struct schema collapses absent and
    # explicit-null (both read as NULL). Exact fidelity on such
    # records would need a presence boolean parsed at ingest; no
    # valid FHIR producer emits JSON nulls, so we accept the collapse.
    def fill_display(c):
        return F.when(
            is_ndc(c) & c.display.isNull(), c.withField("display", name_of(c))
        ).otherwise(c)

    def rxnorm_entry(c):
        return F.struct(
            F.lit(C.RXNORM_SYSTEM).alias("system"),
            rxnorm_of(c).alias("code"),
            name_of(c).alias("display"),
        )

    def enrich_item(it):
        coding = it.productOrService.coding
        quantity = it.quantity.withField(
            "value", F.when(is_special, F.lit(10.0)).otherwise(F.lit(90.0))
        ).withField("unit", F.when(is_special, F.lit("ml")).otherwise(F.lit("tabs")))
        return _with_coding(
            it,
            F.concat(
                F.transform(coding, fill_display),
                F.transform(F.filter(coding, is_ndc), rxnorm_entry),
            ),
        ).withField("quantity", quantity)

    mutations = {
        "supportingInfo": supporting_info,
        "item": F.transform("item", enrich_item),
    }
    return special_item, keep_all, mutations


def bcda_explanation_of_benefit(df: DataFrame, rxnav: DataFrame) -> DataFrame:
    """T7–T17 (``__init__.py:458-533``): filters (patient, claim-type,
    serviced-date, enrichment-dependent), positional supportingInfo
    writes, special-id NDC rewrite, RxNorm display-fill + append,
    per-item quantity writes, meta delete, duplicate-id removal.
    """
    special_item, keep_all, mutations = _eob_exprs()
    return (
        df.withColumns({"item": special_item, "_rx_map": _rx_map_literal(rxnav)})
        .withColumn("_keep", keep_all)
        .filter(F.col("_keep"))
        .withColumns(mutations)
        # T5: meta delete on kept rows (``__init__.py:487``).
        .drop("meta", "_rx_map", "_keep")
    )


# ------------------------------------------------------------ registry

TransformFn = Callable[[DataFrame, DataFrame | None], DataFrame]

TRANSFORMS: dict[tuple[str, str], TransformFn] = {
    ("epic", "Patient"): epic_patient,
    ("epic", "Condition"): epic_condition,
    ("epic", "MedicationRequest"): epic_medication_request,
    ("cerner", "Patient"): cerner_patient,
    ("cerner", "MedicationRequest"): cerner_medication_request,
    ("bcda", "ExplanationOfBenefit"): bcda_explanation_of_benefit,
}


def source_from_url(server_url: str) -> str | None:
    """T2 source dispatch: substring containment, as the reference
    does (``__init__.py:402,439,458``)."""
    for s in ("epic", "cerner", "bcda"):
        if s in server_url:
            return s
    return None


def get_transform(server_url: str, resource_name: str) -> TransformFn | None:
    """Resolve the (source, resource_type) transform; None = identity
    (resources the reference passes through untouched)."""
    src = source_from_url(server_url)
    if src is None:
        return None
    return TRANSFORMS.get((src, resource_name))
