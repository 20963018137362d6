"""Property-based tests (SURVEY §5.2.3) with hypothesis.

Spark-touching properties run each case through one shared session on
small example counts (Spark job latency bounds throughput); pure
helpers get full-strength generation.
"""

from __future__ import annotations

import base64
import json
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from capgemini_himss24_fhirbulkdata_demo_spark.functions.encoding import (
    b64url_encode_py,
)
from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import restamp_seed_name


@given(st.binary(max_size=512))
def test_b64url_roundtrip(data):
    enc = b64url_encode_py(data)
    assert "=" not in enc and "+" not in enc and "/" not in enc
    # checked against the stdlib decoder, re-padded
    assert base64.urlsafe_b64decode(enc + "=" * (-len(enc) % 4)) == data


@given(st.text(alphabet="abcZ019-._", min_size=1, max_size=40), st.integers(0, 10**10))
def test_restamp_replaces_every_digit_run(name, ts):
    out = restamp_seed_name(name, ts)
    # every digit run is exactly the stamp; non-digits untouched
    import re

    for run in re.findall(r"\d+", out):
        assert run == str(ts)
    assert re.sub(r"\d+", "", out) == re.sub(r"\d+", "", name)


@given(
    st.lists(st.integers(0, 50), min_size=0, max_size=30),
    st.lists(st.integers(0, 50), min_size=0, max_size=30),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_jaccard_matches_python_sets(spark, xs, ys):
    from pyspark.sql import functions as F

    from capgemini_himss24_fhirbulkdata_demo_spark.operators.dedup import jaccard

    sx, sy = set(xs), set(ys)
    if not (sx or sy):
        return  # 0/0 undefined in both formulations
    df = spark.createDataFrame(
        [(sorted(sx), sorted(sy))], "a: array<bigint>, b: array<bigint>"
    )
    got = df.select(jaccard(F.col("a"), F.col("b")).alias("j")).first().j
    exp = len(sx & sy) / len(sx | sy)
    assert abs(got - exp) <= 0.5e-4 + 1e-12  # rounded to 4 decimals


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "resourceType": st.just("Patient"),
                "id": st.text(alphabet="abc123", min_size=1, max_size=8),
                "gender": st.sampled_from(["male", "female", "other"]),
                "birthDate": st.dates().map(str),
            }
        ),
        min_size=1,
        max_size=5,
    )
)
def test_ndjson_roundtrip_identity(spark, tmp_path_factory, patients):
    """read→write identity on untouched documents (canonical compare)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.sources import (
        read_ndjson,
        write_ndjson,
    )
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        PATIENT_SCHEMA,
    )

    tmp = tmp_path_factory.mktemp("rt")
    p = os.path.join(tmp, "Patient-x-1.json")
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in patients))
    out = os.path.join(tmp, "out")
    write_ndjson(read_ndjson(spark, p, PATIENT_SCHEMA), out)
    got = []
    for name in sorted(os.listdir(out)):
        if name.startswith("part-"):
            with open(os.path.join(out, name)) as f:
                got.extend(json.loads(line) for line in f if line.strip())
    canon = lambda rows: sorted(json.dumps(r, sort_keys=True) for r in rows)  # noqa: E731
    assert canon(got) == canon(patients)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Distributed min-label propagation == classic union-find on
    arbitrary small graphs (chains, cycles, stars, multi-edges)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.operators.dedup import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    exp = {v: find(v) for v in parent}

    pairs = spark.createDataFrame(edges, "id_a BIGINT, id_b BIGINT")
    got = {
        r.v: r.component
        for r in connected_components(pairs, "id_a", "id_b").collect()
    }
    assert got == exp, (edges, got, exp)


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    rgb=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_pnm_roundtrip(w, h, rgb, seed):
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_pnm,
        encode_pnm,
    )

    def b(i):
        return hashlib.md5(f"{seed}:{i}".encode()).digest()[0]

    if rgb:
        pixels = [(b(3 * i), b(3 * i + 1), b(3 * i + 2)) for i in range(w * h)]
        expect = bytes(
            (299 * r + 587 * g + 114 * bl) // 1000 for (r, g, bl) in pixels
        )
    else:
        pixels = [b(i) for i in range(w * h)]
        expect = bytes(pixels)
    dw, dh, frames = _decode_pnm(encode_pnm(w, h, pixels, rgb=rgb))
    assert (dw, dh) == (w, h)
    assert frames[0] == expect


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    rgb=st.booleans(),
    cut=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=40, deadline=None)
def test_truncated_payloads_raise_not_short_frames(w, h, rgb, cut):
    """Any truncation of a valid PNM payload raises ValueError —
    never a silently short frame that would skew luma sums and
    digests (ADVICE r3)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_pnm,
        encode_pnm,
    )

    if rgb:
        pnm = encode_pnm(w, h, [(1, 2, 3)] * (w * h), rgb=True)
    else:
        pnm = encode_pnm(w, h, [7] * (w * h))
    # full payload decodes fine
    dw, dh, frames = _decode_pnm(pnm)
    assert (dw, dh) == (w, h) and len(frames[0]) == w * h
    short = pnm[: len(pnm) - min(cut, len(pnm) - 1)]
    with pytest.raises((ValueError, NotImplementedError)):
        _decode_pnm(short)


@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=1, max_value=10),
    color_type=st.sampled_from([0, 2, 3, 4, 6]),
    filter_type=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_all_filters_and_color_types(
    w, h, color_type, filter_type, seed
):
    """encode_png -> _decode_png reproduces exact BT.601 luma for
    every 8-bit color type under every PNG row filter (the inverse
    filters are the error-prone part of a PNG decoder)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _PNG_CHANNELS,
        _decode_png,
        encode_png,
    )

    ch = _PNG_CHANNELS[color_type]

    def b(i):
        return hashlib.md5(f"{seed}:{i}".encode()).digest()[0]

    rows = [bytes(b(y * w * ch + i) for i in range(w * ch)) for y in range(h)]
    palette = [(b(1000 + 3 * i), b(2000 + 3 * i), b(3000 + 3 * i))
               for i in range(256)]
    png = encode_png(w, h, rows, color_type,
                     palette if color_type == 3 else None, filter_type)
    dw, dh, frames = _decode_png(png)
    assert (dw, dh) == (w, h)

    def luma(r, g, bl):
        return (299 * r + 587 * g + 114 * bl) // 1000

    expect = bytearray()
    for row in rows:
        for x in range(w):
            if color_type == 0:
                expect.append(row[x])
            elif color_type == 2:
                expect.append(luma(row[3 * x], row[3 * x + 1], row[3 * x + 2]))
            elif color_type == 3:
                expect.append(luma(*palette[row[x]]))
            elif color_type == 4:
                expect.append(row[2 * x])
            else:
                expect.append(luma(row[4 * x], row[4 * x + 1], row[4 * x + 2]))
    assert frames[0] == bytes(expect)


@given(
    cut=st.integers(min_value=1, max_value=80),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_png_truncation_raises(cut, seed):
    """Truncating or corrupting a PNG raises ValueError, never a short
    frame (same contract as the PNM decoder)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_png,
        encode_png,
    )

    rows = [bytes(hashlib.md5(f"{seed}:{y}:{i}".encode()).digest()[0]
                  for i in range(8 * 3)) for y in range(6)]
    png = encode_png(8, 6, rows, color_type=2, filter_type=4)
    dw, dh, frames = _decode_png(png)
    assert (dw, dh, len(frames[0])) == (8, 6, 48)
    # the trailing 16 bytes (IEND chunk + IDAT crc) carry no pixel
    # data — losing only those still decodes the complete frame
    short = png[: len(png) - min(cut, len(png) - 9)]
    if cut <= 16:
        assert _decode_png(short)[2][0] == frames[0]
    else:
        with pytest.raises((ValueError, NotImplementedError)):
            _decode_png(short)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.integers(0, 3), min_size=1, max_size=9).map(
            lambda toks: " ".join(f"w{t}" for t in toks)
        ),
        min_size=1,
        max_size=6,
    )
)
def test_remove_dup_paragraphs_matches_python_reference(spark, docs):
    """dataprep.remove_dup_paragraphs == a direct python model of the
    keep-first rule on arbitrary tiny corpora (3-token chunks over a
    4-word alphabet force heavy chunk collisions, all-dup docs, and
    single-chunk edge cases)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
        remove_dup_paragraphs,
    )

    chunk_tokens = 3
    # python reference: chunk, count distinct docs + first doc per
    # chunk text, keep-first filter, reassemble in order
    chunks = {}
    per_doc = []
    for i, text in enumerate(docs):
        toks = text.split(" ")
        cs = [
            " ".join(toks[j : j + chunk_tokens])
            for j in range(0, len(toks), chunk_tokens)
        ]
        per_doc.append(cs)
        for c in cs:
            info = chunks.setdefault(c, {"docs": set(), "first": i})
            info["docs"].add(i)
            info["first"] = min(info["first"], i)
    expect = {}
    for i, cs in enumerate(per_doc):
        kept = [
            c for c in cs
            if len(chunks[c]["docs"]) < 2 or chunks[c]["first"] == i
        ]
        if kept:
            expect[i] = " ".join(kept)

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id BIGINT, text STRING"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in remove_dup_paragraphs(
            df, "doc_id", "text", chunk_tokens
        ).collect()
    }
    assert got == expect, (docs, got, expect)


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    nf=st.integers(min_value=1, max_value=4),
    npal=st.sampled_from([4, 64, 256]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=30, deadline=None)
def test_gif_multiframe_roundtrip(w, h, nf, npal, seed):
    """encode_gif -> _decode_gif reproduces exact palette luma for
    every frame across palette sizes (LZW width growth, dictionary
    resets, and multi-frame sequencing)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_gif,
        encode_gif,
    )

    def b(tag, i):
        return hashlib.md5(f"{seed}:{tag}:{i}".encode()).digest()[0]

    pal = [(b("r", i), b("g", i), b("b", i)) for i in range(npal)]
    frames = [
        [b(f, i) % npal for i in range(w * h)] for f in range(nf)
    ]
    gif = encode_gif(w, h, frames, pal)
    dw, dh, got = _decode_gif(gif)
    assert (dw, dh, len(got)) == (w, h, nf)
    for f in range(nf):
        expect = bytes(
            (299 * pal[i][0] + 587 * pal[i][1] + 114 * pal[i][2]) // 1000
            for i in frames[f]
        )
        assert got[f] == expect
    # any truncation into frame data raises, never yields short frames
    short = gif[: max(13, len(gif) - max(2, len(gif) // 3))]
    with pytest.raises((ValueError, NotImplementedError)):
        _decode_gif(short)


@given(
    n=st.integers(min_value=0, max_value=400),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip(n, rate, seed):
    """encode_wav -> decode_wav round-trips arbitrary 8-bit sample
    streams and header metadata exactly; truncating the data chunk
    raises ValueError (never yields short samples)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        decode_wav,
        encode_wav,
    )

    samples = bytes(
        hashlib.md5(f"{seed}:{i}".encode()).digest()[0] for i in range(n)
    )
    wav = encode_wav(samples, rate)
    (ch, sw, fr, nf), got = decode_wav(wav)
    assert (ch, sw, fr, nf) == (1, 1, rate, n)
    assert got == samples
    if n >= 2:
        with pytest.raises(ValueError):
            decode_wav(wav[:-1])


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    vocab=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=9),
        min_size=2,
        max_size=14,
        unique=True,
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_x85_passjoin_finds_all_pairs(spark, tmp_path_factory, vocab):
    """PassJoin segment blocking is EXACT, not approximate: against a
    random vocabulary (tiny alphabet → many near-collisions), x85
    returns precisely the brute-force set of pairs with levenshtein
    <= 2 — the pigeonhole signature never drops a true pair."""
    from capgemini_himss24_fhirbulkdata_demo_spark.queries import QUERIES

    d = tmp_path_factory.mktemp("x85prop")
    rows = [
        (i, t, "en", "src0", len(t)) for i, t in enumerate(sorted(vocab))
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        (r["tok_a"], r["tok_b"], r["dist"])
        for r in QUERIES["x85_typo_pairs"](spark, str(d)).collect()
    }
    toks = sorted(vocab)
    expect = {
        (a, b, _lev(a, b))
        for i, a in enumerate(toks)
        for b in toks[i + 1 :]
        if _lev(a, b) <= 2
    }
    assert got == expect


@given(
    run_len=st.integers(min_value=8, max_value=12),  # >= K + W - 1 = 8
    pad_a=st.integers(min_value=0, max_value=6),
    pad_b=st.integers(min_value=0, max_value=6),
    seed=st.integers(min_value=0, max_value=10**6),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_x90_winnowing_guarantee(spark, tmp_path_factory, run_len, pad_a, pad_b, seed):
    """Winnowing's selection guarantee (Schleimer et al. §: any match
    of length >= w+k-1 is caught): two documents sharing a run of
    run_len >= K+W-1 tokens MUST both report n_shared >= 1, wherever
    the run sits in each document."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.queries import QUERIES
    from capgemini_himss24_fhirbulkdata_demo_spark.queries.corpus_stats import (
        _X90_K,
        _X90_W,
    )

    assert run_len >= _X90_K + _X90_W - 1

    def tk(tag, i):
        return "t" + hashlib.md5(f"{seed}:{tag}:{i}".encode()).hexdigest()[:6]

    shared = [tk("s", i) for i in range(run_len)]
    doc_a = [tk("a", i) for i in range(pad_a)] + shared
    doc_b = shared + [tk("b", i) for i in range(pad_b)]
    d = tmp_path_factory.mktemp("x90prop")
    rows = [
        (0, " ".join(doc_a), "en", "src0", len(" ".join(doc_a))),
        (1, " ".join(doc_b), "en", "src1", len(" ".join(doc_b))),
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {
        r["doc_id"]: r["n_shared"]
        for r in QUERIES["x90_winnowing"](spark, str(d)).collect()
    }
    assert out[0] >= 1 and out[1] >= 1, out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(2, 4),
)
def test_remove_dup_spans_matches_python_reference(spark, docs, k):
    """ExactSubstr removal vs an independent pure-Python oracle on
    random tiny-alphabet corpora (small alphabet forces dense span
    collisions — the regime where keep-first + union-coverage
    bookkeeping can go wrong)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.dataprep import (
        remove_dup_spans,
    )

    # python reference: same spec, independent implementation
    spans = {}  # gram -> [(doc, start)]
    for di, toks in enumerate(docs):
        for i in range(len(toks) - k + 1):
            spans.setdefault(tuple(toks[i : i + k]), []).append((di, i))
    removed = {di: set() for di in range(len(docs))}
    for occ in spans.values():
        ds = {d for d, _ in occ}
        if len(ds) < 2:
            continue
        keep = min(ds)
        for d, i in occ:
            if d != keep:
                removed[d].update(range(i, i + k))
    expect = {}
    for di, toks in enumerate(docs):
        kept = [t for i, t in enumerate(toks) if i not in removed[di]]
        if kept:
            expect[di] = " ".join(kept)

    sdf = spark.createDataFrame(
        [(di, " ".join(toks)) for di, toks in enumerate(docs)],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in remove_dup_spans(sdf, "doc_id", "text", k).collect()
    }
    # empty-token-list docs: split('', ' ') yields [''] — a 1-token
    # doc of the empty string; it can never match a k>=2 span, so it
    # survives unchanged as ""
    for di, toks in enumerate(docs):
        if not toks:
            expect[di] = ""
    assert got == expect


@given(
    st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=40),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rank_quantile_matches_sorted_index(spark, vals):
    """The rank-exact quantile idiom (x157/x163/x169/x185/x206):
    value at row ceil(p*n) of the sorted list must equal the
    sorted-list element at that index — checked against plain
    Python sorting, independent of any SQL engine."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id: bigint, v: bigint"
    )
    r = df.select(
        "v",
        F.row_number().over(Window.orderBy("v", "id")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    import math

    for p in (0.25, 0.5, 0.75, 0.9):
        got = (
            r.where(
                F.col("rn")
                == F.ceil(F.lit(p) * F.col("n")).cast("bigint")
            )
            .select("v")
            .first()
            .v
        )
        exp = sorted(vals)[math.ceil(p * len(vals)) - 1]
        assert got == exp, (p, vals, got, exp)


@given(
    st.lists(
        st.integers(0, 10**9).map(lambda c: c / 100.0),
        min_size=1,
        max_size=50,
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_holt_fold_matches_python_recurrence(spark, ys):
    """x155's F.aggregate Holt fold must reproduce the plain-Python
    recurrence BIT-FOR-BIT (alpha=0.3, beta=0.1): the fold is
    sequential, the update is IEEE * and +, so no tolerance is
    needed — any deviation means the fold reordered operations."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(list(ys),)], "s: array<double>")
    out_t = "array<struct<y:double,lvl:double,trend:double>>"
    init = F.struct(
        F.lit(0.0).alias("l"),
        F.lit(0.0).alias("b"),
        F.array().cast(out_t).alias("out"),
    )

    def step(acc, y):
        first = F.size(acc["out"]) == 0
        l_upd = F.lit(0.3) * y + F.lit(0.7) * (acc["l"] + acc["b"])
        l_new = F.when(first, y).otherwise(l_upd)
        b_new = F.when(first, F.lit(0.0)).otherwise(
            F.lit(0.1) * (l_upd - acc["l"]) + F.lit(0.9) * acc["b"]
        )
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        y.alias("y"),
                        l_new.alias("lvl"),
                        b_new.alias("trend"),
                    )
                ),
            ).alias("out"),
        )

    rows = (
        df.select(F.explode(F.aggregate("s", init, step)["out"]).alias("r"))
        .select("r.y", "r.lvl", "r.trend")
        .collect()
    )
    l = b = None
    for i, (y, got_l, got_b) in enumerate(rows):
        if i == 0:
            l, b = ys[0], 0.0
        else:
            l_upd = 0.3 * ys[i] + 0.7 * (l + b)
            b = 0.1 * (l_upd - l) + 0.9 * b
            l = l_upd
        assert got_l == l and got_b == b, (i, ys)


@given(
    st.integers(1, 10**12),  # purchase value in micro-units
    st.integers(1, 50),  # touches in the cycle
)
@settings(max_examples=50, deadline=None)
def test_linear_attribution_credit_conservation(pv_u, n):
    """x207's integer floor-division credit rule: n equal credits
    must never exceed the purchase value, and the dropped
    remainder must be < n micro-units (sub-micro per touch)."""
    credit = pv_u // n
    assert credit * n <= pv_u < credit * n + n


@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    color_type=st.sampled_from([0, 2, 3, 4, 6]),
    filter_type=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_adam7_matches_noninterlaced(w, h, color_type, filter_type, seed):
    """An Adam7-interlaced PNG decodes to the exact same luma frame
    as the non-interlaced encoding of the same raster — the pass
    geometry (7 sub-rasters, independent filter state, empty passes
    omitted) is the error-prone part of interlaced PNG."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _PNG_CHANNELS,
        _decode_png,
        encode_png,
    )

    ch = _PNG_CHANNELS[color_type]

    def b(i):
        return hashlib.md5(f"{seed}:{i}".encode()).digest()[0]

    rows = [bytes(b(y * w * ch + i) for i in range(w * ch)) for y in range(h)]
    palette = [(b(1000 + 3 * i), b(2000 + 3 * i), b(3000 + 3 * i))
               for i in range(256)]
    pal = palette if color_type == 3 else None
    plain = _decode_png(encode_png(w, h, rows, color_type, pal, filter_type))
    adam7 = _decode_png(
        encode_png(w, h, rows, color_type, pal, filter_type, interlace=1)
    )
    assert adam7 == plain


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    nf=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_gif_interlaced_matches_noninterlaced(w, h, nf, seed):
    """4-pass interlaced GIF frames decode to the same rasters as
    their non-interlaced twins (row reorder is a pure permutation)."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_gif,
        encode_gif,
    )

    def b(tag, i):
        return hashlib.md5(f"{seed}:{tag}:{i}".encode()).digest()[0]

    pal = [(b("r", i), b("g", i), b("b", i)) for i in range(64)]
    frames = [[b(f, i) % 64 for i in range(w * h)] for f in range(nf)]
    plain = _decode_gif(encode_gif(w, h, frames, pal))
    inter = _decode_gif(encode_gif(w, h, frames, pal, interlace=True))
    assert inter == plain


@given(
    seed=st.integers(min_value=0, max_value=2**31),
    nf=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=40, deadline=None)
def test_gif_subrect_compositing_matches_reference(seed, nf):
    """Sub-rectangle GIF frames composite onto the logical screen
    with GCE disposal (0/1 leave, 2 restore-background, 3
    restore-previous) and transparent-index skip; checked against an
    independent pure-Python compositor over random frame stacks."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_gif,
        _luma,
        encode_gif,
    )

    W, H = 10, 8

    def b(tag, i):
        return hashlib.md5(f"{seed}:{tag}:{i}".encode()).digest()[0]

    npal = 16
    pal = [(b("r", i), b("g", i), b("b", i)) for i in range(npal)]
    lum = [_luma(*p) for p in pal]
    bg = lum[0]  # encoder writes background index 0
    frames, rects, gces = [], [], []
    for f in range(nf):
        fw = 1 + b("w", f) % W
        fh = 1 + b("h", f) % H
        left = b("l", f) % (W - fw + 1)
        top = b("t", f) % (H - fh + 1)
        rects.append((left, top, fw, fh))
        frames.append([b(f, i) % npal for i in range(fw * fh)])
        disposal = b("d", f) % 4
        t_idx = (b("x", f) % npal) if b("tf", f) % 2 else None
        gces.append((disposal, t_idx))
    gif = encode_gif(W, H, frames, pal, rects=rects, gces=gces)
    dw, dh, got = _decode_gif(gif)
    assert (dw, dh, len(got)) == (W, H, nf)

    # independent reference compositor
    canvas = [bg] * (W * H)
    for f in range(nf):
        left, top, fw, fh = rects[f]
        disposal, t_idx = gces[f]
        before = list(canvas)
        for r in range(fh):
            for c in range(fw):
                v = frames[f][r * fw + c]
                if t_idx is not None and v == t_idx:
                    continue
                canvas[(top + r) * W + left + c] = lum[v]
        assert got[f] == bytes(canvas), f
        if disposal == 2:
            for r in range(fh):
                for c in range(fw):
                    canvas[(top + r) * W + left + c] = bg
        elif disposal == 3:
            canvas = before


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    color_type=st.sampled_from([0, 2, 4, 6]),
    filter_type=st.integers(min_value=0, max_value=4),
    interlace=st.integers(min_value=0, max_value=1),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_png_16bit_high_byte_luma(w, h, color_type, filter_type,
                                  interlace, seed):
    """16-bit PNG decodes to the luma of each sample's high byte
    (exact v*255//65535), across every non-palette color type, row
    filter, and both interlace modes — filter offsets move to
    bytes-per-pixel at depth 16, the classic decoder bug."""
    import hashlib
    import struct as _struct

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _PNG_CHANNELS,
        _decode_png,
        _luma,
        encode_png,
    )

    ch = _PNG_CHANNELS[color_type]

    def s16(i):
        d = hashlib.md5(f"{seed}:{i}".encode()).digest()
        return (d[0] << 8) | d[1]

    samples = [[s16(y * w * ch + i) for i in range(w * ch)] for y in range(h)]
    rows = [b"".join(_struct.pack(">H", v) for v in r) for r in samples]
    png = encode_png(w, h, rows, color_type, None, filter_type,
                     interlace=interlace, depth=16)
    dw, dh, frames = _decode_png(png)
    assert (dw, dh) == (w, h)
    expect = bytearray()
    for r in samples:
        hi = [v >> 8 for v in r]
        for x in range(w):
            if color_type == 0:
                expect.append(hi[x])
            elif color_type == 2:
                expect.append(_luma(hi[3 * x], hi[3 * x + 1], hi[3 * x + 2]))
            elif color_type == 4:
                expect.append(hi[2 * x])
            else:
                expect.append(_luma(hi[4 * x], hi[4 * x + 1], hi[4 * x + 2]))
    assert frames[0] == bytes(expect)


@given(
    w=st.integers(min_value=1, max_value=18),
    h=st.integers(min_value=1, max_value=12),
    depth=st.sampled_from([1, 2, 4]),
    color_type=st.sampled_from([0, 3]),
    filter_type=st.integers(min_value=0, max_value=4),
    interlace=st.integers(min_value=0, max_value=1),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_png_sub8bit_roundtrip(w, h, depth, color_type, filter_type,
                               interlace, seed):
    """Sub-8-bit PNG (1/2/4-bit gray and palette — the only legal
    combos) decodes to exact v*255//maxv gray or BT.601 palette luma
    across every row filter and both interlace modes. The hazards are
    the MSB-first bit unpacking, the packed row stride (filter offset
    stays 1 byte while pixels pack below byte granularity), and Adam7
    pass strides at non-byte-aligned pass widths."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_png,
        _luma,
        encode_png,
    )

    maxv = (1 << depth) - 1

    def b(i):
        return hashlib.md5(f"{seed}:{i}".encode()).digest()[0]

    rows = [[b(y * w + x) & maxv for x in range(w)] for y in range(h)]
    palette = [(b(1000 + 3 * i), b(2000 + 3 * i), b(3000 + 3 * i))
               for i in range(maxv + 1)]
    png = encode_png(w, h, rows, color_type,
                     palette if color_type == 3 else None,
                     filter_type, interlace=interlace, depth=depth)
    dw, dh, frames = _decode_png(png)
    assert (dw, dh) == (w, h)
    expect = bytearray()
    for r in rows:
        for v in r:
            if color_type == 0:
                expect.append(v * 255 // maxv)
            else:
                expect.append(_luma(*palette[v]))
    assert frames[0] == bytes(expect)
    # illegal depth/color-type combos must raise, not mis-decode
    with pytest.raises(ValueError):
        encode_png(w, h, rows, color_type=2, filter_type=0, depth=depth)


@given(
    w=st.integers(min_value=1, max_value=14),
    h=st.integers(min_value=1, max_value=10),
    predictor=st.integers(min_value=1, max_value=7),
    precision=st.sampled_from([2, 4, 8, 12, 16]),
    restart_interval=st.sampled_from([0, 1, 5, 17]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_jpeg_lossless_roundtrip(w, h, predictor, precision,
                                 restart_interval, seed):
    """Lossless (SOF3) JPEG round-trips EXACTLY (no DCT anywhere):
    decoded luma == v*255//(2^P−1) of the original samples for every
    predictor 1-7, precision 2..16, and restart interval — the
    hazards are the Annex-H boundary prediction rules (first sample,
    first row, first column), the mod-2^16 difference arithmetic with
    the SSSS=16 escape, and prediction reset after RSTn."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_jpeg,
        encode_jpeg_lossless,
    )

    maxval = (1 << precision) - 1

    def s(i):
        d = hashlib.md5(f"{seed}:{i}".encode()).digest()
        return ((d[0] << 8) | d[1]) & maxval

    rows = [[s(y * w + x) for x in range(w)] for y in range(h)]
    jp = encode_jpeg_lossless(w, h, rows, predictor, precision,
                              restart_interval=restart_interval)
    dw, dh, frames = _decode_jpeg(jp)
    assert (dw, dh) == (w, h)
    assert frames[0] == bytes(v * 255 // maxval for r in rows for v in r)


@given(
    cut=st.integers(min_value=1, max_value=400),
    pt=st.integers(min_value=0, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_lossless_point_transform_and_truncation(cut, pt, seed):
    """The Annex-H point transform Pt makes decode reproduce
    (v>>Pt)<<Pt exactly (the near-lossless contract); truncating the
    stream anywhere inside the scan raises ValueError, never a short
    or corrupt frame."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_jpeg,
        encode_jpeg_lossless,
    )

    rows = [[hashlib.md5(f"{seed}:{y}:{x}".encode()).digest()[0]
             for x in range(12)] for y in range(9)]
    jp = encode_jpeg_lossless(12, 9, rows, predictor=4,
                              point_transform=pt)
    dw, dh, frames = _decode_jpeg(jp)
    assert (dw, dh) == (12, 9)
    assert frames[0] == bytes(
        ((v >> pt) << pt) for r in rows for v in r)
    # only the 2-byte EOI tail is pixel-free; any deeper cut raises
    short = jp[: len(jp) - min(cut, len(jp) - 4)]
    if cut <= 2:
        assert _decode_jpeg(short)[2][0] == frames[0]
    else:
        with pytest.raises((ValueError, NotImplementedError)):
            _decode_jpeg(short)


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
    rgb=st.booleans(),
    maxval=st.sampled_from([255, 1023, 4095, 65535]),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_pnm_maxval_rescale(w, h, rgb, maxval, seed):
    """PNM samples rescale to 8-bit via exact integer v*255//maxval;
    maxval>255 reads two-byte big-endian samples (16-bit PNM).
    Truncating the raster raises ValueError."""
    import hashlib

    from capgemini_himss24_fhirbulkdata_demo_spark.multimodal.binary import (
        _decode_pnm,
        _luma,
        encode_pnm,
    )

    def sv(i):
        d = hashlib.md5(f"{seed}:{i}".encode()).digest()
        return ((d[0] << 8) | d[1]) % (maxval + 1)

    n = w * h
    if rgb:
        pixels = [(sv(3 * i), sv(3 * i + 1), sv(3 * i + 2)) for i in range(n)]
        expect = bytes(
            _luma(*(v * 255 // maxval for v in p)) for p in pixels
        )
    else:
        pixels = [sv(i) for i in range(n)]
        expect = bytes(v * 255 // maxval for v in pixels)
    pnm = encode_pnm(w, h, pixels, rgb=rgb, maxval=maxval)
    dw, dh, frames = _decode_pnm(pnm)
    assert (dw, dh) == (w, h)
    assert frames[0] == expect
    with pytest.raises(ValueError):
        _decode_pnm(pnm[:-1])


def test_x213_spearman_rank_square_survives_int32_range(spark, tmp_path):
    """Regression for the r9 4x-corpus differential finding: the
    Spearman rank-difference square must widen to bigint BEFORE the
    multiply. row_number() is IntegerType, so on a corpus with more
    than ~46k ranked rows a perfectly anti-correlated pair ordering
    drives d*d past 2^31 and the non-ANSI engine policy wraps it
    silently (observed: rho 0.714541 instead of ~0 at 80k parts,
    SCALE.md §"Corpus-differential ladder (r9)").

    A 50k-part corpus with revenue exactly reversing the price order
    has closed-form ranks: price_rank=k, rev_rank=n+1-k, so
    sum(d^2) = n(n^2-1)/3 (= 4.1e13, far past int32) and rho = -1.
    """
    from pyspark.sql import functions as F

    from capgemini_himss24_fhirbulkdata_demo_spark.queries.analytics import (
        x213_spearman_price_revenue,
    )

    n = 50_000
    base = spark.range(1, n + 1).withColumnRenamed("id", "k")
    part = base.select(
        F.col("k").alias("p_partkey"),
        F.col("k").cast("double").alias("p_retailprice"),
    )
    li = base.select(
        F.col("k").alias("l_partkey"),
        (n + 1 - F.col("k")).cast("double").alias("l_extendedprice"),
        F.lit(0.0).alias("l_discount"),
    )
    sf = str(tmp_path)
    part.write.parquet(f"{sf}/part.parquet")
    li.write.parquet(f"{sf}/lineitem.parquet")

    row = x213_spearman_price_revenue(spark, sf).first()
    assert row["n_parts"] == n
    assert row["sum_sq_rank_diff"] == n * (n * n - 1) // 3
    assert row["spearman_rho"] == -1.0
