"""Property/tolerance tests for the non-oracle extension operators
(X1 approx distinct, X2 MinHash/SimHash near-dup, X3 similarity, X4
multimodal) — SURVEY.md §5.2(4)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_event_streaming_analytics_platform_spark.catalog import load
from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
    minhash_candidates,
    simhash_df,
)
from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_media_features,
)
from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
    N_QUERIES,
    TOP_K,
    cosine_topk,
    with_norm,
)

from .conftest import SF_DIR


def _planted_dups(spark, sf_dir, n=10):
    """documents ∪ near-copies of the first n docs (one word appended) —
    known near-dup pairs (doc_id, doc_id + 100000)."""
    docs = load(spark, sf_dir, "documents")
    dups = (
        docs.where(F.col("doc_id") < n)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzduplicatemarker")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    return docs.unionByName(dups), {(i, i + 100000) for i in range(n)}


def test_x1_approx_within_tolerance(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    exact = {
        r["o_orderstatus"]: r["buyers"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("buyers"))
        .collect()
    }
    approx = {
        r["o_orderstatus"]: r["approx_buyers"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", 0.02).alias("approx_buyers"))
        .collect()
    }
    for status, n in exact.items():
        assert abs(approx[status] - n) <= max(0.05 * n, 2), (status, n, approx[status])


def test_x2_minhash_recall_on_planted_dups(spark):
    docs, truth = _planted_dups(spark, SF_DIR)
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(docs).where(F.col("est_jaccard") >= 0.5).collect()
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall}: {sorted(truth - found)}"


def test_x2_minhash_precision_on_testdata(spark):
    # The driver testdata plants genuine near-duplicates; every pair the
    # LSH surfaces at est >= 0.9 must be a true near-dup (word-3-gram
    # Jaccard >= 0.8) — precision, the complement of the recall test.
    docs = load(spark, SF_DIR, "documents")
    pairs = minhash_candidates(docs).where(F.col("est_jaccard") >= 0.9).collect()
    assert pairs, "expected planted near-dups in the testdata"
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    def jac(a, b, w=3):
        ta, tb = texts[a].lower().split(), texts[b].lower().split()
        sa = {" ".join(ta[i : i + w]) for i in range(len(ta) - w + 1)}
        sb = {" ".join(tb[i : i + w]) for i in range(len(tb) - w + 1)}
        return len(sa & sb) / max(len(sa | sb), 1)

    for p in pairs:
        true_j = jac(p["doc_a"], p["doc_b"])
        assert true_j >= 0.8, (p["doc_a"], p["doc_b"], p["est_jaccard"], true_j)


def test_x2c_simhash_detects_planted_dups(spark):
    docs, truth = _planted_dups(spark, SF_DIR)
    sig = simhash_df(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    hits = 0
    for a, b in truth:
        hamming = bin(rows[a] ^ rows[b]).count("1")
        if hamming <= 6:
            hits += 1
    assert hits / len(truth) >= 0.9, hits


def test_x3_brute_cosine_matches_numpy(spark):
    emb = load(spark, SF_DIR, "embeddings")
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    result = cosine_topk(
        with_norm(emb), with_norm(emb).where(F.col("vec_id") < N_QUERIES)
    ).collect()
    by_q = {}
    for r in result:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cid"], r["cos"]))
    for qid, got in by_q.items():
        q = vecs[qid]
        sims = {
            cid: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            for cid, v in vecs.items()
            if cid != qid
        }
        expect = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = sorted(got)
        assert [cid for _, cid, _ in got] == [cid for cid, _ in expect], (qid, got, expect)
        for (_, _, cos_spark), (_, cos_np) in zip(got, expect):
            assert math.isclose(cos_spark, cos_np, abs_tol=0.01), (qid, cos_spark, cos_np)


def test_x3b_lsh_recall_vs_brute(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    brute = engine.QUERIES["x3_cosine_topk"](spark, SF_DIR).collect()
    ann = engine.QUERIES["x3b_ann_lsh"](spark, SF_DIR).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r["qid"], set()).add(r["cid"])
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r["qid"], set()).add(r["cid"])
    # 8 tables × 4-bit buckets: expected recall ≈ 0.7 at the testdata's
    # weak clustering (top-5 cosines ≈ 0.35); assert a safe floor.
    recalls = [
        len(ann_sets.get(q, set()) & cids) / len(cids) for q, cids in brute_sets.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_x4_decode_stub_contract():
    with pytest.raises(NotImplementedError):
        decode_image(b"bytes")
    d = decode_image(b"hello world", fake=True)
    assert set(d) == {"width", "height", "n_frames", "feature"}
    assert len(d["feature"]) == FEATURE_DIM
    assert d == decode_image(b"hello world", fake=True)  # deterministic


def test_x4_media_features_schema_and_batches(spark):
    docs = load(spark, SF_DIR, "documents").limit(50)
    with_payload = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    out = extract_media_features(with_payload)
    assert out.schema["feature"].dataType.simpleString() == "array<float>"
    rows = out.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-5  # histogram normalization


def _np_lum_hist(lum):
    import numpy as np

    buckets = np.clip((lum * FEATURE_DIM / 256.0).astype(np.int64), 0, FEATURE_DIM - 1)
    return (np.bincount(buckets.ravel(), minlength=FEATURE_DIM) / lum.size).tolist()


def test_x4_real_ppm_pgm_bmp_decode():
    """VERDICT r12 #5: decode_image natively parses binary PPM/PGM/BMP
    (pure bytes + numpy) — header-true dims, pixel-derived luminance
    histogram, NO fake flag needed. Other formats keep the documented
    NotImplementedError; a known magic with a garbage body falls back
    to pseudo-features only under fake=True."""
    import struct

    import numpy as np

    rng = np.random.RandomState(45)

    # P6 with a header comment; 5x4 RGB
    rgb = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)
    ppm = b"P6\n# planted\n5 4\n255\n" + rgb.tobytes()
    d = decode_image(ppm)
    assert (d["width"], d["height"], d["n_frames"]) == (5, 4, 1)
    flat = rgb.reshape(-1, 3).astype(np.float64)
    lum = 0.299 * flat[:, 0] + 0.587 * flat[:, 1] + 0.114 * flat[:, 2]
    assert d["feature"] == pytest.approx(_np_lum_hist(lum))

    # P5 grayscale 7x2
    gray = rng.randint(0, 256, size=(2, 7), dtype=np.uint8)
    pgm = b"P5 7 2 255\n" + gray.tobytes()
    d = decode_image(pgm)
    assert (d["width"], d["height"]) == (7, 2)
    assert d["feature"] == pytest.approx(_np_lum_hist(gray.astype(np.float64)))

    # BMP: 3x2, 24-bit BI_RGB, bottom-up, stride 12 (3 pad bytes/row)
    w, h = 3, 2
    stride = ((w * 3 + 3) // 4) * 4
    px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)  # BGR rows
    raster = b"".join(
        px[r].tobytes() + b"\0" * (stride - w * 3) for r in range(h - 1, -1, -1)
    )
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )
    d = decode_image(bmp)
    assert (d["width"], d["height"]) == (w, h)
    flat = px.reshape(-1, 3).astype(np.float64)
    lum = 0.299 * flat[:, 2] + 0.587 * flat[:, 1] + 0.114 * flat[:, 0]
    assert d["feature"] == pytest.approx(_np_lum_hist(lum))

    # unknown format still stubbed; bad body behind a real magic falls
    # back only under fake=True
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")
    with pytest.raises(ValueError):
        decode_image(b"BMgarbage")
    fb = decode_image(b"BMgarbage", fake=True)
    assert len(fb["feature"]) == FEATURE_DIM


def test_x4c_image_decode_matches_numpy_differential(spark):
    """x4c (rows-only, d3b/t4b pattern): the registered query builds a
    valid P6 payload per document and must route through the REAL
    decode — header-true 16x8 dims and a luminance histogram equal to
    a pure-numpy decode of the same planted bytes, tuple-for-tuple."""
    import numpy as np

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        X4C_H,
        X4C_W,
    )

    got = {
        r["doc_id"]: r
        for r in engine.QUERIES["x4c_image_decode"](spark, SF_DIR).collect()
    }
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    body = X4C_W * X4C_H * 3
    for r in docs:
        out = got[r["doc_id"]]
        assert (out["width"], out["height"], out["n_frames"]) == (
            X4C_W,
            X4C_H,
            1,
        )
        text = (r["text"] or "").ljust(body, " ")
        raw = text.encode("utf-8")[:body]
        rgb = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
        lum = 0.299 * rgb[:, 0] + 0.587 * rgb[:, 1] + 0.114 * rgb[:, 2]
        want = _np_lum_hist(lum)
        assert out["feature"] == pytest.approx(want, abs=1e-6), r["doc_id"]


def test_x4d_dhash_properties():
    """dHash invariants: uniform brightness shift leaves the hash
    unchanged (differences are preserved); a single-grid-cell pixel
    edit moves hamming by at most 2 (the cell's left and right
    comparisons) even when the rest of the image is constant — the
    exact-integer tie handling is what makes the second property hold
    (a float integral image flips far-away tie bits)."""
    import numpy as np

    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        dhash64,
    )

    rng = np.random.RandomState(7)
    w, h = 16, 8
    lum = rng.randint(0, 200, size=w * h).astype(np.float64)
    assert dhash64(w, h, lum) == dhash64(w, h, lum + 55.0)

    flat = np.full(w * h, 32.0)  # constant image: every comparison ties
    base = dhash64(w, h, flat)
    edited = flat.copy()
    edited[0] = 255.0  # pixel (0,0) = grid cell (0,0) alone at 16x8
    d = dhash64(w, h, edited)
    assert bin((base ^ d) & ((1 << 64) - 1)).count("1") <= 2


def test_x4d_phash_near_dup_matches_numpy_differential(spark):
    """x4d (rows-only, d3b/t4b pattern): tuple-for-tuple equality with
    a brute-force numpy replication — same planted payloads, dhash64
    per image, exact groups by hash, all-pairs hamming <= 3 at
    representative level. Equality also proves the 4x16-band join is
    exact at this threshold (pigeonhole: <= 3 differing bits leave at
    least one band identical). Planted variants must pair with their
    base at hamming <= 1 whenever the hashes differ."""
    import itertools

    import numpy as np

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        X4C_H,
        X4C_W,
        X4D_VARIANT_OFFSET,
        _image_lum,
        dhash64,
    )

    got = {
        (r["doc_a"], r["doc_b"]): (r["hamming"], r["n_a"], r["n_b"])
        for r in engine.QUERIES["x4d_phash_near_dup"](spark, SF_DIR).collect()
    }

    body = X4C_W * X4C_H * 3
    header = f"P6 {X4C_W} {X4C_H} 255\n".encode()
    hashes: dict[int, int] = {}
    for r in load(spark, SF_DIR, "documents").select("doc_id", "text").collect():
        raw = (r["text"] or "").ljust(body, " ")[:body].encode("utf-8")
        hashes[r["doc_id"]] = dhash64(*_image_lum(header + raw))
        if r["doc_id"] % 4 == 0:
            var = header + bytes([255, 255, 255]) + raw[3 : 3 + body]
            hashes[r["doc_id"] + X4D_VARIANT_OFFSET] = dhash64(*_image_lum(var))

    groups: dict[int, list[int]] = {}
    for doc_id, ph in hashes.items():
        groups.setdefault(ph, []).append(doc_id)
    reps = {min(ids): (ph, len(ids)) for ph, ids in groups.items()}
    want = {}
    for (a, (ph_a, n_a)), (b, (ph_b, n_b)) in itertools.combinations(
        sorted(reps.items()), 2
    ):
        ham = bin((ph_a ^ ph_b) & ((1 << 64) - 1)).count("1")
        if ham <= 3:
            want[(a, b)] = (ham, n_a, n_b)
    assert got == want

    for doc_id, ph in hashes.items():
        if doc_id >= X4D_VARIANT_OFFSET:
            base_ph = hashes[doc_id - X4D_VARIANT_OFFSET]
            assert bin((ph ^ base_ph) & ((1 << 64) - 1)).count("1") <= 1


def test_x4e_wav_decode_unit():
    """decode_audio parses a hand-built RIFF: chunk walking past an
    extra chunk before data, 16-bit and 8-bit PCM, stereo mono-mix,
    declared-size discipline (trailing bytes ignored), and rejection of
    non-PCM / truncated containers."""
    import struct

    import numpy as np

    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        decode_audio,
    )

    def wav(rate, bits, channels, frames, extra_chunk=False, fmt_code=1):
        if bits == 16:
            data = np.asarray(frames, dtype="<i2").tobytes()
        else:
            data = bytes(int(v) + 128 for v in frames)
        chunks = b""
        if extra_chunk:
            chunks += b"LIST" + struct.pack("<I", 5) + b"junk!" + b"\0"  # padded odd chunk
        chunks += b"fmt " + struct.pack(
            "<IHHIIHH",
            16,
            fmt_code,
            channels,
            rate,
            rate * channels * bits // 8,
            channels * bits // 8,
            bits,
        )
        chunks += b"data" + struct.pack("<I", len(data)) + data + b"XX"  # trailing junk
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    d = decode_audio(wav(8000, 16, 1, [0, 100, -100, 100], extra_chunk=True))
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == (8000, 1, 4)
    assert d["duration_ms"] == pytest.approx(0.5)
    assert d["zcr"] == pytest.approx(2 / 3)  # +,+,-,+ -> 2 sign changes
    assert d["rms"] == pytest.approx(math.sqrt((0 + 3 * 100**2) / 4))

    st = decode_audio(wav(16000, 16, 2, [10, 30, -50, -30]))  # stereo pairs
    assert (st["n_channels"], st["n_samples"]) == (2, 2)
    assert st["rms"] == pytest.approx(math.sqrt((20**2 + 40**2) / 2))

    u8 = decode_audio(wav(8000, 8, 1, [0, -10, 10]))
    assert u8["n_samples"] == 3 and u8["rms"] == pytest.approx(
        math.sqrt(200 / 3)
    )

    with pytest.raises(ValueError):
        decode_audio(wav(8000, 16, 1, [1, 2], fmt_code=3))  # float PCM
    with pytest.raises(ValueError):
        decode_audio(b"RIFFxxxxWAVE")  # no chunks
    with pytest.raises(ValueError):
        decode_audio(b"OggS" + b"\0" * 40)  # not RIFF


def test_x4e_audio_decode_matches_numpy_differential(spark):
    """x4e (rows-only, d3b/t4b pattern): the registered query plants a
    canonical 16-bit mono 8 kHz WAV per document; every output row must
    match an independent numpy recomputation of RMS/ZCR over the same
    little-endian sample bytes, and carry the header-true rate and
    100 ms duration."""
    import numpy as np

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        X4E_DATA_BYTES,
        X4E_RATE,
    )

    got = {
        r["doc_id"]: r
        for r in engine.QUERIES["x4e_audio_decode"](spark, SF_DIR).collect()
    }
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    n = X4E_DATA_BYTES // 2
    for r in docs:
        out = got[r["doc_id"]]
        body = (r["text"] or "").ljust(X4E_DATA_BYTES, " ")[
            :X4E_DATA_BYTES
        ].encode("utf-8")[:X4E_DATA_BYTES]
        mono = np.frombuffer(body, dtype="<i2").astype(np.float64)
        assert (out["sample_rate"], out["n_channels"], out["n_samples"]) == (
            X4E_RATE,
            1,
            n,
        )
        assert out["duration_ms"] == pytest.approx(n * 1000.0 / X4E_RATE)
        assert out["rms"] == pytest.approx(
            float(np.sqrt(np.mean(mono * mono))), rel=1e-6
        )
        signs = np.where(mono >= 0, 1, -1)
        assert out["zcr"] == pytest.approx(
            float(np.count_nonzero(signs[1:] != signs[:-1])) / (n - 1), rel=1e-6
        )


def test_x4_extractors_total_over_null_and_garbage(spark):
    """The Arrow batch dispatchers must stay total over arbitrary
    binary columns: null payloads and undecodable bytes yield null
    feature fields from phash_images and extract_audio_features
    instead of killing the Python worker."""
    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        _x4e_wav_header,
        extract_audio_features,
        phash_images,
    )

    rows = [
        (1, None),
        (2, b"\x00\x01garbage-not-a-container"),
        (3, b"P6 2 2 255\n" + bytes(12)),  # valid tiny PPM
        (4, b"RIFF\x00\x00\x00\x00WAVE"),  # RIFF but no chunks
        (5, _x4e_wav_header() + bytes(1600)),  # valid silent WAV
        (6, b"P6 9 9 255\nshort"),  # truncated raster
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    ph = {r["doc_id"]: r["phash"] for r in phash_images(df).collect()}
    assert set(ph) == {1, 2, 3, 4, 5, 6}
    assert ph[3] is not None
    assert ph[1] is None and ph[2] is None and ph[4] is None and ph[6] is None

    au = {r["doc_id"]: r for r in extract_audio_features(df).collect()}
    assert set(au) == {1, 2, 3, 4, 5, 6}
    ok = au[5]
    assert (ok["sample_rate"], ok["n_samples"]) == (8000, 800)
    assert ok["rms"] == 0.0 and ok["zcr"] == 0.0
    for bad in (1, 2, 3, 4, 6):
        assert au[bad]["sample_rate"] is None, bad


def test_t4_fingerprint_deterministic(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    a = engine.QUERIES["t4_fingerprint"](spark, SF_DIR).collect()
    b = engine.QUERIES["t4_fingerprint"](spark, SF_DIR).collect()
    assert a == b
    assert all(r["fp_min"] is not None for r in a)


def test_t4b_matches_duckdb_differential(spark):
    """t4b's whole point is an EXACT cross-engine fingerprint: the
    polynomial rolling hash mod 2^31-1 keeps every intermediate below
    2^52, so DuckDB recomputes the full pipeline (token hash → shingle
    hash → winnowing min-selection → distinct set) value-for-value.
    T4B_ORACLE_SQL is the ready-to-promote r12 driver oracle (the
    50-slot window is full this round — see __spark_entry__.py); this
    differential gives it the same signal locally every session."""
    import duckdb

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.text import (
        T4B_ORACLE_SQL,
    )

    got = [
        tuple(r)
        for r in engine.QUERIES["t4b_fingerprint_winnow"](spark, SF_DIR).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = [tuple(r) for r in con.execute(T4B_ORACLE_SQL).fetchall()]
    assert len(got) == len(want) and got == want


def test_t4b_winnow_overlap_detects_shared_substring(spark):
    """The Schleimer 2003 guarantee: any shared substring of at least
    w + k - 1 tokens contributes at least one identical selected
    fingerprint to both documents. Plant a pair sharing a long middle
    run and an unrelated pair; the shared pair must overlap heavily in
    fingerprint space, the unrelated pair not at all."""
    from real_time_event_streaming_analytics_platform_spark.functions.text import (
        winnow_fingerprints,
    )

    shared = " ".join(f"common{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, f"alpha bravo {shared} charlie delta"),
            (2, f"echo foxtrot golf {shared} hotel"),
            (3, " ".join(f"zulu{i}" for i in range(50))),
        ],
        "doc_id long, text string",
    )
    fps = {
        did: {r["fp"] for r in rows}
        for did, rows in (
            (d, [r for r in winnow_fingerprints(docs).collect() if r["doc_id"] == d])
            for d in (1, 2, 3)
        )
    }
    inter = fps[1] & fps[2]
    assert inter, "shared 40-token run must share selected fingerprints"
    # the shared run dominates both docs, so overlap is large, not token-level
    assert len(inter) >= 0.5 * min(len(fps[1]), len(fps[2]))
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def test_r6b_approx_close_to_exact(spark, sf_dir):
    import real_time_event_streaming_analytics_platform_spark as engine

    exact = {
        r["event_type"]: (r["p95"], r["p99"])
        for r in engine.QUERIES["r6_percentile_rank"](spark, sf_dir).collect()
    }
    approx = {
        r["event_type"]: (r["p95"], r["p99"])
        for r in engine.QUERIES["r6b_percentile_approx"](spark, sf_dir).collect()
    }
    for et, (p95, p99) in exact.items():
        a95, a99 = approx[et]
        assert abs(a95 - p95) <= max(0.02 * abs(p95), 0.5), (et, p95, a95)
        assert abs(a99 - p99) <= max(0.02 * abs(p99), 0.5), (et, p99, a99)


def test_q26_sample_fraction_bounds(spark, sf_dir):
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.catalog import load

    total = load(spark, sf_dir, "orders").count()
    n = engine.QUERIES["q26_sample"](spark, sf_dir).count()
    assert 0.05 * total <= n <= 0.15 * total, (n, total)
    # seeded: deterministic across runs in one session
    assert n == engine.QUERIES["q26_sample"](spark, sf_dir).count()


def test_x2d_embedding_near_dup_finds_planted(spark):
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        lsh_tables as _lsh,
        with_norm as _wn,
    )

    emb = load(spark, SF_DIR, "embeddings")
    dups = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(dups)
    tabled = _lsh(_wn(planted))
    a = tabled.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
    b = tabled.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, ["table", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .collect()
    }
    # identical vectors share every bucket in every table → always candidates
    truth = {(i, i + 100000) for i in range(5)}
    assert truth <= pairs, truth - pairs
    # and the registered query (on the raw table) runs with sane output
    out = engine.QUERIES["x2d_embedding_near_dup"](spark, SF_DIR).collect()
    assert all(r["cos"] >= 0.95 for r in out)


def test_x3c_ivf_recall_vs_brute(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    brute = engine.QUERIES["x3_cosine_topk"](spark, SF_DIR).collect()
    ivf = engine.QUERIES["x3c_ann_ivf"](spark, SF_DIR).collect()
    b, v = {}, {}
    for r in brute:
        b.setdefault(r["qid"], set()).add(r["cid"])
    for r in ivf:
        v.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [len(v.get(q, set()) & cids) / len(cids) for q, cids in b.items()]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_multimodal_resize_and_frame_sample(spark):
    from real_time_event_streaming_analytics_platform_spark.functions.multimodal import (
        frame_sample,
        resize_media,
    )

    docs = load(spark, SF_DIR, "documents").limit(20)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    resized = resize_media(payloads, width=16, height=16).collect()
    assert all(len(r["payload"]) == 256 for r in resized)
    frames = frame_sample(payloads, every_k=2, frame_bytes=64).collect()
    assert frames and all(r["frame_no"] % 2 == 0 for r in frames)
    assert all(len(r["frame"]) <= 64 for r in frames)

def test_x2e_groups_resolve_transitive_chains(spark):
    """A≈B and B≈C must land in ONE group with keeper=min even when A,C
    never share an LSH bucket directly (transitive resolution)."""
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        connected_components,
    )

    docs = load(spark, SF_DIR, "documents")
    base = docs.where(F.col("doc_id") == 0)
    copy1 = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zzmarkerone")).alias("text"),
        "lang", "source", "n_chars",
    )
    copy2 = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" zzmarkerone zzmarkertwo")).alias("text"),
        "lang", "source", "n_chars",
    )
    planted = docs.unionByName(copy1).unionByName(copy2)
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        minhash_candidates as _mc,
    )

    edges = _mc(planted).where(F.col("est_jaccard") >= 0.5)
    labels = {r["node"]: r["comp"] for r in connected_components(edges, "doc_a", "doc_b").collect()}
    assert labels.get(100000) == 0 and labels.get(200000) == 0


def test_connected_components_path_graph(spark, monkeypatch):
    """Pure CC check on a known graph: a 4-node path + an isolated edge."""
    from real_time_event_streaming_analytics_platform_spark.functions import pipeline

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # a self-loop adds no connectivity but its node still gets a label
    edges = edges.union(
        spark.createDataFrame([(77, 77), (1, 1)], "src long, dst long")
    )
    want[77] = 77
    # local union-find path (default for small edge lists) ...
    cc = pipeline.connected_components
    got = {r["node"]: r["comp"] for r in cc(edges).collect()}
    assert got == want
    # ... and the distributed alternating-star path must agree exactly
    monkeypatch.setattr(pipeline, "SMALL_GRAPH_LOCAL", 0)
    got_star = {r["node"]: r["comp"] for r in cc(edges).collect()}
    assert got_star == want

def test_connected_components_rejects_nonnumeric_ids(spark):
    """A string id that casts to NULL must raise, not silently corrupt
    labels (the long cast is only legal when lossless)."""
    import pytest

    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("a1", "b2"), ("b2", "c3")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="cast losslessly"):
        connected_components(edges)
    # numeric strings cast losslessly and are accepted
    ok = spark.createDataFrame([("1", "2")], "src string, dst string")
    got = {r["node"]: r["comp"] for r in connected_components(ok).collect()}
    assert got == {1: 1, 2: 1}


def test_lsh_bucket_cap_guards_degenerate_buckets(spark):
    """200 identical docs form one hot bucket; with a cap below 200 they
    produce ZERO candidate pairs (handled by exact dedup instead of a
    cap² pair explosion), while distinct near-dups still surface."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        minhash_candidates as _mc,
    )

    docs = load(spark, SF_DIR, "documents")
    boiler = spark.range(200).select(
        (F.col("id") + 500000).alias("doc_id"),
        F.lit("lorem ipsum boilerplate page footer text repeated").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("boiler").alias("source"),
        F.lit(48).alias("n_chars"),
    )
    planted = docs.unionByName(boiler)
    capped = _mc(planted, max_bucket=100).where(F.col("est_jaccard") >= 0.5)
    boiler_pairs = capped.where(F.col("doc_a") >= 500000).count()
    assert boiler_pairs == 0
    # real near-dups elsewhere in the corpus still found
    assert capped.count() > 0
    # and with the cap off, the hot bucket explodes into ~200*199/2 pairs
    uncapped = _mc(planted, max_bucket=None).where(F.col("doc_a") >= 500000)
    assert uncapped.count() == 199 * 100

def test_t5_pii_scrub_detects_and_redacts_planted_pii(spark):
    from real_time_event_streaming_analytics_platform_spark.functions.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "contact Bob.Smith+spam@example.co.uk or 555-123-4567 today"),
            (2, "no pii here at all"),
            (3, "two mails: a@b.io c@d.org and 111 222 3333"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (0, 0)
    assert (rows[3]["n_emails"], rows[3]["n_phones"]) == (2, 1)
    # digest is of the REDACTED text: planting different PII with the same
    # surrounding text yields the same digest
    import hashlib

    alt = spark.createDataFrame(
        [(1, "contact eve.adams@evil.net or 999-888-7777 today")],
        "doc_id long, text string",
    )
    got = scrub_pii(alt).first()["clean_digest"]
    want = hashlib.md5(b"contact <EMAIL> or <PHONE> today").hexdigest()
    assert got == want


def test_x8_decontaminate_flags_planted_overlap(spark):
    """A corpus doc that copies a benchmark doc's text must be flagged;
    benchmark docs themselves never appear in the output."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
    )

    out = engine.QUERIES["x8_decontaminate"](spark, SF_DIR)
    flagged = {r["doc_id"] for r in out.collect()}
    assert flagged, "sf0.01 has known 4-gram overlap (8 docs) — none found"
    bench_ids = {
        r["doc_id"]
        for r in load(spark, SF_DIR, "documents").where(F.expr(_BENCH_PRED)).collect()
    }
    assert not (flagged & bench_ids)


def test_x9_source_mixing_rates(spark):
    """Even-numbered sources keep ~50% (hex prefix <= '80'), odd keep all."""
    import real_time_event_streaming_analytics_platform_spark as engine

    rows = engine.QUERIES["x9_source_mixing"](spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        n = int(r["source"][3:])
        if n % 2 == 1:
            assert r["n_kept"] == r["n_docs"], r
        else:
            assert 0 < r["n_kept"] < r["n_docs"], r


def test_t6_repetition_bounds_and_planted_boilerplate(spark):
    """Fractions stay in [0,1]; a degenerate one-token document is
    flagged, a all-distinct document is not."""
    from real_time_event_streaming_analytics_platform_spark._shingle import WORDS_EXPR

    docs = spark.createDataFrame(
        [
            (1, "spam " * 50, "en", "s", 250),
            (2, "alpha beta gamma delta epsilon", "en", "s", 30),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    # reuse the registered query's projection by calling it over a temp dir
    # is overkill — drive the same expressions directly
    base = (
        docs.withColumn("_toks", F.expr(WORDS_EXPR))
        .select(
            "doc_id",
            F.expr("size(_toks)").alias("n_tokens"),
            F.expr("size(array_distinct(_toks))").alias("n_distinct"),
        )
        .collect()
    )
    rows = {r["doc_id"]: r for r in base}
    assert rows[1]["n_distinct"] == 1 and rows[1]["n_tokens"] == 50
    assert rows[2]["n_distinct"] == rows[2]["n_tokens"] == 5
    import real_time_event_streaming_analytics_platform_spark as engine

    out = engine.QUERIES["t6_repetition"](spark, SF_DIR).collect()
    assert all(0.0 <= r["dup_frac"] <= 1.0 and 0.0 < r["top_tok_frac"] <= 1.0 for r in out)


def test_x10_curation_funnel_monotone_and_consistent(spark):
    """Each funnel stage can only shrink the survivor set, and the
    stage counts must agree with the standalone operators: total raw =
    non-benchmark docs, contamination losses consistent with x8."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
    )

    rows = engine.QUERIES["x10_curation_funnel"](spark, SF_DIR).collect()
    assert rows, "funnel produced no sources"
    for r in rows:
        assert (
            r["n_raw"] >= r["n_quality"] >= r["n_dedup"] >= r["n_clean"] >= r["n_kept"]
        ), r
        assert r["n_kept"] > 0 or r["kept_tokens"] == 0
    n_raw = sum(r["n_raw"] for r in rows)
    non_bench = load(spark, SF_DIR, "documents").where(~F.expr(_BENCH_PRED)).count()
    assert n_raw == non_bench
    # sf0.01 has planted 4-gram contamination (x8 finds 8 docs) — the
    # funnel must lose docs at the decontamination stage overall unless
    # every contaminated doc already failed an earlier stage.
    lost_clean = sum(r["n_dedup"] - r["n_clean"] for r in rows)
    x8_hits = engine.QUERIES["x8_decontaminate"](spark, SF_DIR).count()
    assert 0 <= lost_clean <= x8_hits


def test_funnel_gopher_stage_composes(spark):
    """curation_funnel(gopher=True) inserts the t6b rule battery after
    the quality gate (VERDICT r09 #6): n_gopher sits between n_quality
    and n_dedup, every downstream count is bounded by its no-gopher
    twin, the stage rejects real docs on this corpus (~44% is
    gopher-flagged), its losses agree with the standalone t6b flags
    among quality survivors, and gopher=False reproduces the
    registered x10 columns exactly."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _BENCH_PRED,
        _QUAL_MIN_TOKENS,
        curation_funnel,
    )

    docs = load(spark, SF_DIR, "documents")
    base = {r["source"]: r.asDict() for r in curation_funnel(docs).collect()}
    gop = {
        r["source"]: r.asDict()
        for r in curation_funnel(docs, gopher=True).collect()
    }
    assert "n_gopher" not in next(iter(base.values()))
    total_lost = 0
    for src, g in gop.items():
        b = base[src]
        assert g["n_raw"] == b["n_raw"] and g["n_quality"] == b["n_quality"]
        assert (
            g["n_quality"] >= g["n_gopher"] >= g["n_dedup"] >= g["n_clean"]
            >= g["n_kept"]
        ), g
        assert g["n_dedup"] <= b["n_dedup"]
        assert g["n_kept"] <= b["n_kept"]
        assert g["kept_tokens"] <= b["kept_tokens"]
        total_lost += g["n_quality"] - g["n_gopher"]
    # cross-check vs the standalone battery: losses == flagged docs
    # among non-benchmark quality survivors
    toks = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
    qual_ids = {
        r["doc_id"]
        for r in docs.where(~F.expr(_BENCH_PRED))
        .withColumn("_toks", F.expr(toks))
        .where(
            (F.expr("size(_toks)") >= _QUAL_MIN_TOKENS)
            & (
                (F.expr("size(_toks)") - F.expr("size(array_distinct(_toks))"))
                * 2
                <= F.expr("size(_toks)")
            )
        )
        .select("doc_id")
        .collect()
    }
    flagged_ids = {
        r["doc_id"]
        for r in engine.QUERIES["t6b_gopher_rules"](spark, SF_DIR)
        .where("gopher_flagged")
        .collect()
    }
    assert total_lost == len(qual_ids & flagged_ids)
    assert total_lost > 0  # the stage does real work on this corpus


def test_x3d_pq_recall_vs_brute(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    brute = engine.QUERIES["x3_cosine_topk"](spark, SF_DIR).collect()
    pq = engine.QUERIES["x3d_ann_pq"](spark, SF_DIR).collect()
    b, v = {}, {}
    for r in brute:
        b.setdefault(r["qid"], set()).add(r["cid"])
    for r in pq:
        v.setdefault(r["qid"], set()).add(r["cid"])
    # 8 subspaces × 32 centroids + 60-deep exact re-rank: measured ≈ 0.84
    # at sf0.01 / 0.6 at sf0.1 on this weakly-clustered corpus.
    recalls = [len(v.get(q, set()) & cids) / len(cids) for q, cids in b.items()]
    assert sum(recalls) / len(recalls) >= 0.5, recalls
    # re-ranked scores are EXACT cosines: every (qid, cid) both paths
    # return must carry the identical round2 score
    bs = {(r["qid"], r["cid"]): r["cos"] for r in brute}
    for r in pq:
        if (r["qid"], r["cid"]) in bs:
            assert r["cos"] == bs[(r["qid"], r["cid"])]


def test_x2f_incremental_flags_cross_side_dups_only(spark):
    from real_time_event_streaming_analytics_platform_spark.functions import dedup as dd

    docs = load(spark, SF_DIR, "documents")
    # batch doc 100007 (matches doc_id % 10 = 7 after the +100000 shift? no —
    # choose ids explicitly): near-copy of INDEX doc 4 gets batch id 999997
    # (% 10 == 7 → batch side); a unique word-soup doc gets 999987.
    near = docs.where(F.col("doc_id") == 4).select(
        F.lit(999997).alias("doc_id"),
        F.concat("text", F.lit(" zzincrementalmarker")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    unique = docs.limit(1).select(
        F.lit(999987).alias("doc_id"),
        F.lit("completely unrelated singleton text about nothing at all").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    planted = docs.unionByName(near).unionByName(unique)

    import real_time_event_streaming_analytics_platform_spark.catalog as catalog

    orig = catalog.load
    try:
        catalog.load = lambda _s, _d, _t: planted  # noqa: ARG005
        dd.load = catalog.load
        # the standing indexes are keyed by the REAL corpus files;
        # clear on both sides of the loader swap so this test neither
        # reads a pre-built real-corpus index nor leaves a planted one
        # behind for later tests
        catalog.clear_derived()
        out = {r["doc_id"]: r for r in dd.x2f_incremental_dedup(spark, SF_DIR).collect()}
    finally:
        catalog.load = orig
        dd.load = orig
        catalog.clear_derived()
    assert 999997 in out and out[999997]["first_match"] == 4
    assert 999987 not in out  # unique batch doc not flagged
    assert all(d % 10 == 7 for d in out)  # only batch-side docs in the output


def test_t7_chunk_dedup_flags_planted_boilerplate(spark):
    from real_time_event_streaming_analytics_platform_spark.functions import text as tx

    docs = load(spark, SF_DIR, "documents")
    boiler = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8 words
    planted_rows = [
        (900000 + i, boiler + f" unique tail {i} " + "filler " * 10, "en", "src1", 100)
        for i in range(4)
    ]
    planted = docs.unionByName(
        spark.createDataFrame(planted_rows, "doc_id long, text string, lang string, source string, n_chars long")
    )
    import real_time_event_streaming_analytics_platform_spark.catalog as catalog

    orig = catalog.load
    try:
        catalog.load = lambda _s, _d, _t: planted  # noqa: ARG005
        tx.load = catalog.load
        out = {r["doc_id"]: r for r in tx.t7_chunk_dedup(spark, SF_DIR).collect()}
    finally:
        catalog.load = orig
        tx.load = orig
    # the shared leading 8-word chunk appears in 4 docs ≥ HOT_DOCS=3 →
    # removed from each; the unique tails survive
    for i in range(4):
        r = out[900000 + i]
        assert r["n_removed"] >= 1 and not r["clean"]
        assert r["n_chunks"] > r["n_removed"]  # tail chunks kept


def test_x3e_ivfadc_recall_vs_brute_and_ivf(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    brute = engine.QUERIES["x3_cosine_topk"](spark, SF_DIR).collect()
    ivf = engine.QUERIES["x3c_ann_ivf"](spark, SF_DIR).collect()
    adc = engine.QUERIES["x3e_ann_ivfadc"](spark, SF_DIR).collect()
    b, v, a = {}, {}, {}
    for r in brute:
        b.setdefault(r["qid"], set()).add(r["cid"])
    for r in ivf:
        v.setdefault(r["qid"], set()).add(r["cid"])
    for r in adc:
        a.setdefault(r["qid"], set()).add(r["cid"])
    r_ivf = sum(len(v.get(q, set()) & c) / len(c) for q, c in b.items()) / len(b)
    r_adc = sum(len(a.get(q, set()) & c) / len(c) for q, c in b.items()) / len(b)
    assert r_adc >= 0.4, (r_adc, r_ivf)
    # Cell routing is the shared recall ceiling; IVFADC can only lose
    # vs exact-scoring IVF when a true neighbor inside a probed cell
    # falls below the PQ_RERANK=60 ADC shortlist. Allow a small margin
    # for that (it grows with probed-cell size), but a larger gap means
    # the residual codes are broken.
    assert r_adc >= r_ivf - 0.1, (r_adc, r_ivf)
    # re-ranked scores are exact cosines — identical round2 values
    bs = {(r["qid"], r["cid"]): r["cos"] for r in brute}
    for r in adc:
        key = (r["qid"], r["cid"])
        if key in bs:
            assert bs[key] == r["cos"], key
    spark.catalog.clearCache()  # drop the queries' persisted ANN indexes


def test_x2d_candidates_stay_subquadratic(spark):
    """Scale-doctrine guard: with 4-bit buckets the near-dup candidate
    join had quietly become ~40% of all pairs (809k of 2M at sf0.1).
    NEAR_DUP_BITS must keep candidates a small fraction of n² — this is
    the difference between an LSH index and an all-pairs comparison."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import MAX_BUCKET, cap_buckets
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        NEAR_DUP_BITS,
        lsh_tables,
        with_norm,
    )

    emb = with_norm(load(spark, SF_DIR, "embeddings"))
    n = emb.count()
    keys = cap_buckets(
        lsh_tables(emb, bits_per_table=NEAR_DUP_BITS).select(
            "vec_id", "table", "bucket"
        ),
        ["table", "bucket"],
        MAX_BUCKET,
    )
    a = keys.select(F.col("vec_id").alias("vec_a"), "table", "bucket")
    b = keys.select(F.col("vec_id").alias("vec_b"), "table", "bucket")
    cands = (
        a.join(b, ["table", "bucket"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) / 2
    assert cands <= 0.05 * all_pairs, (cands, all_pairs)


def test_connected_components_long_chain(spark, monkeypatch):
    """A 40-hop path must collapse to one component — diameter-bound
    label propagation (the algorithm this replaced) cannot do this
    inside any practical iteration cap; alternating star converges in
    O(log^2 n) rounds regardless of diameter."""
    from real_time_event_streaming_analytics_platform_spark.functions import pipeline

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    monkeypatch.setattr(pipeline, "SMALL_GRAPH_LOCAL", 0)
    got = {r["node"]: r["comp"] for r in pipeline.connected_components(edges).collect()}
    assert got == {i: 0 for i in range(41)}


def test_local_components_property_vs_bfs():
    """Property check (no Spark): _local_components labels every node
    with its component's minimum id, for arbitrary small graphs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        _local_components,
    )

    edges_st = st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=60
    )

    @settings(max_examples=200, deadline=None)
    @given(edges_st)
    def check(edges):
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            return
        got = _local_components(edges)
        # BFS reference
        adj = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        want = {}
        for start in adj:
            if start in want:
                continue
            seen, frontier = {start}, [start]
            while frontier:
                n = frontier.pop()
                for m in adj[n]:
                    if m not in seen:
                        seen.add(m)
                        frontier.append(m)
            lo = min(seen)
            for n in seen:
                want[n] = lo
        assert got == want, (edges, got, want)

    check()


def test_x3f_incremental_recall_vs_brute(spark):
    """Admitting a batch into the standing IVF index (no retrain, no
    corpus rescan) must search the WHOLE corpus at x3c-grade recall."""
    import real_time_event_streaming_analytics_platform_spark as engine

    brute = engine.QUERIES["x3_cosine_topk"](spark, SF_DIR).collect()
    inc = engine.QUERIES["x3f_incremental_ann"](spark, SF_DIR).collect()
    b, v = {}, {}
    for r in brute:
        b.setdefault(r["qid"], set()).add(r["cid"])
    for r in inc:
        v.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [len(v.get(q, set()) & cids) / len(cids) for q, cids in b.items()]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_x3f_planted_batch_vector_found(spark):
    """A batch vector identical to a probe vector MUST surface at rank 1
    with cosine 1.0 after incremental admit — proving admitted vectors
    land in searchable cells, not a side table."""
    import numpy as np

    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        assign_cells,
        ivf_assignments,
        ivf_probe,
        with_norm,
    )

    rng = np.random.RandomState(0)
    standing_rows = [
        (int(i), [float(x) for x in rng.randn(8)]) for i in range(300)
    ]
    batch_rows = [(1000, list(standing_rows[0][1]))]  # copy of query 0
    schema = "vec_id long, embedding array<double>"
    standing = with_norm(spark.createDataFrame(standing_rows, schema))
    batch = with_norm(spark.createDataFrame(batch_rows, schema))

    assigned, centers = ivf_assignments(standing)
    merged = assigned.unionByName(assign_cells(batch, centers))
    assert merged.count() == 301
    got = ivf_probe(spark, merged, centers).collect()
    top0 = [r for r in got if r["qid"] == 0 and r["rank"] == 1]
    assert top0 and top0[0]["cid"] == 1000, top0
    assert abs(top0[0]["cos"] - 1.0) < 1e-6


def test_simhash_arrow_matches_aggregate_form(spark):
    """The Arrow/numpy simhash fold must equal the independent
    pure-codegen aggregate implementation BIT FOR BIT on real docs
    (including tie and short-doc edge cases)."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        _simhash_agg_df,
    )

    docs = load(spark, SF_DIR, "documents").limit(400)
    fast = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    ref = {r["doc_id"]: r["simhash"] for r in _simhash_agg_df(docs).collect()}
    assert fast == ref


def test_x15_semdedup_drops_planted_near_dups(spark):
    """SemDeDup planted-duplicate recall: perturbed copies of existing
    vectors must be dropped, absorbed by their lowest-id original (the
    deterministic leader policy), while the base corpus — synthetic
    random embeddings with no real near-dups — survives intact."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        assign_cells,
        ivf_assignments,
        semdedup,
        with_norm as _wn,
    )

    emb = load(spark, SF_DIR, "embeddings")
    # near-identical copies: tiny deterministic perturbation on one
    # coordinate keeps cosine >~ 0.9999, far above the 0.9 threshold
    dups = emb.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(1e-3)).otherwise(0.0)
        ).cast("array<float>").alias("embedding"),
        "label",
    )
    planted = _wn(emb.unionByName(dups))
    assigned, centers = ivf_assignments(planted)
    marked = semdedup(assigned).collect()
    by_id = {r["vec_id"]: r for r in marked}
    # every planted copy is dropped and names its original as leader
    for i in range(8):
        r = by_id[i + 100000]
        assert not r["kept"], f"planted copy {i + 100000} survived"
        assert r["dup_of"] == i, (i, r["dup_of"])
        assert r["leader_sim"] > 0.99
        assert by_id[i]["kept"], f"original {i} was dropped"
    # copy and original land in the same cell (they must, to be compared)
    for i in range(8):
        assert by_id[i]["cell"] == by_id[i + 100000]["cell"]


def test_x15_semdedup_kept_set_is_valid_and_deterministic(spark):
    """Within every cluster the kept set contains no pair above the
    threshold (greedy-scan invariant, verified brute-force), and two
    runs produce identical decisions."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        SEMDEDUP_THRESHOLD,
        ivf_assignments,
        semdedup,
        with_norm as _wn,
    )

    emb = _wn(load(spark, SF_DIR, "embeddings"))
    assigned, _ = ivf_assignments(emb)
    marked = semdedup(assigned)
    kept = (
        assigned.join(marked.where("kept").select("vec_id"), "vec_id")
        .select("vec_id", "cell", "embedding", "nrm")
        .collect()
    )
    by_cell: dict[int, list] = {}
    for r in kept:
        by_cell.setdefault(r["cell"], []).append(r)
    checked = 0
    for rows in by_cell.values():
        M = np.array([r["embedding"] for r in rows], dtype=np.float64)
        nrm = np.array([r["nrm"] for r in rows])
        S = (M @ M.T) / np.outer(nrm, nrm)
        np.fill_diagonal(S, 0.0)
        assert S.max(initial=0.0) <= SEMDEDUP_THRESHOLD + 1e-9
        checked += len(rows)
    assert checked > 0
    # determinism: re-running the registered query yields identical rows
    a = sorted(map(tuple, engine.QUERIES["x15_semdedup"](spark, SF_DIR).collect()))
    b = sorted(map(tuple, engine.QUERIES["x15_semdedup"](spark, SF_DIR).collect()))
    assert a == b


def test_d3_substring_dup_span_union_arithmetic(spark):
    """Planted verbatim run: two docs share a 10-token substring (and
    nothing else), a third is fully unique, a fourth is shorter than
    the shingle width. The shared run yields 3 overlapping 8-token
    shingles whose interval union must count exactly 10 tokens in EACH
    sharing doc — pinning the LEAST(K, pos - lag(pos)) span-union
    arithmetic — while unique and short docs report zero coverage."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        substring_dup_spans,
    )

    run = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, "a0 a1 a2 a3 a4 " + run + " a5 a6 a7"),
            (1, "b0 b1 " + run + " b2 b3 b4 b5 b6"),
            (2, " ".join(f"c{i}" for i in range(20))),
            (3, "d0 d1 d2"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in substring_dup_spans(docs).collect()}
    assert rows[0]["total_tokens"] == 18 and rows[0]["dup_tokens"] == 10
    assert rows[1]["total_tokens"] == 17 and rows[1]["dup_tokens"] == 10
    assert rows[2]["dup_tokens"] == 0
    assert rows[3]["total_tokens"] == 3 and rows[3]["dup_tokens"] == 0
    assert abs(rows[0]["dup_ratio"] - 10 / 18) < 1e-12


def test_d4_keeper_is_quality_ranked_not_min_id(spark):
    """Planted normalized-form variants: three docs identical up to
    case/punctuation/whitespace must group together, and the keeper
    must be the LONGEST variant (n_chars DESC), not the smallest
    doc_id — the exact distinction between d4 and d1. Ties on n_chars
    fall back to doc_id ASC."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        canonical_representatives,
    )

    variants = [
        (10, "Hello, World!"),            # 13 chars
        (11, "hello world"),              # 11 chars
        (12, "HELLO --- WORLD ...!!"),    # 21 chars -> keeper
        (20, "something else"),           # singleton
        (30, "tie a"),                    # 5 chars, tie group
        (31, "tie.a"),                    # 5 chars -> keeper by doc_id
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in variants],
        "doc_id long, text string, n_chars int",
    )
    rows = {r["group_key"]: r for r in canonical_representatives(docs).collect()}
    assert len(rows) == 3
    by_members = sorted(rows.values(), key=lambda r: -r["members"])
    trio = by_members[0]
    assert trio["members"] == 3 and trio["keeper"] == 12
    assert trio["keeper_chars"] == 21
    tie = next(r for r in rows.values() if r["members"] == 2)
    assert tie["keeper"] == 30  # equal n_chars -> lowest doc_id
    single = next(r for r in rows.values() if r["members"] == 1)
    assert single["keeper"] == 20


def test_x23_priority_sample_is_weighted_and_replayable(spark):
    """Sequential-Poisson selection must (a) equal a pure-Python replay
    of the md5-nibble/weight arithmetic bit for bit — the no-libm
    determinism claim — and (b) actually be WEIGHTED: the selected
    docs' mean n_chars exceeds the corpus mean (inclusion ∝ length)."""
    import hashlib

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.catalog import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "n_chars").collect()

    def pri(doc_id, n_chars):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        u = (
            sum("0123456789abcdef".index(h[i]) / 16 ** (i + 1) for i in range(6))
            + 1 / 16777216
        )
        return u / max(n_chars, 1)

    ref = sorted((pri(r["doc_id"], r["n_chars"]), r["doc_id"]) for r in docs)[:100]
    got = sorted(
        (r["priority"], r["doc_id"])
        for r in engine.QUERIES["x23_weighted_priority_sample"](
            spark, SF_DIR
        ).collect()
    )
    assert got == ref  # bitwise: dyadic u + one IEEE division
    chars = {r["doc_id"]: r["n_chars"] for r in docs}
    corpus_mean = sum(chars.values()) / len(chars)
    sel_mean = sum(chars[d] for _, d in got) / len(got)
    assert sel_mean > corpus_mean, (sel_mean, corpus_mean)


def test_x24_contamination_matches_duckdb_recompute(spark):
    """Independent DuckDB recompute of the directed contamination
    matrix over raw shingle STRINGS (no xxhash64), written with a
    DIFFERENT slicing idiom (list_transform/list_slice) than the
    registered oracle's array-subscript form — every (src_a, src_b,
    overlap, total, ratio) row, including the explicit zero-overlap
    grid rows, must agree. Same no-collision assumption d3's oracle
    makes."""
    import duckdb

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        SPAN_K,
    )

    rows = sorted(
        tuple(r)
        for r in engine.QUERIES["x24_cross_source_contamination"](
            spark, SF_DIR
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    k = SPAN_K
    orows = sorted(
        tuple(r)
        for r in con.execute(f"""
        WITH w AS (
            SELECT source,
                   string_split_regex(trim(text), '[ \t\n\r]+') AS w
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT source,
                   unnest(list_transform(
                       generate_series(1, len(w) - {k} + 1),
                       i -> array_to_string(list_slice(w, i, i + {k} - 1), ' ')
                   )) AS shingle
            FROM w WHERE len(w) >= {k}
        ),
        totals AS (SELECT source, COUNT(*) AS total_a FROM sh GROUP BY 1),
        pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   COUNT(*) AS overlap_shingles
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.source <> b.source GROUP BY 1, 2
        ),
        grid AS (
            SELECT ta.source AS src_a, tb.source AS src_b, ta.total_a
            FROM totals ta JOIN totals tb ON ta.source <> tb.source
        )
        SELECT g.src_a, g.src_b,
               COALESCE(p.overlap_shingles, 0) AS overlap_shingles,
               g.total_a,
               floor(CAST(COALESCE(p.overlap_shingles, 0) AS DOUBLE)
                     / g.total_a * 100 + 0.5) / 100 AS contamination
        FROM grid g
        LEFT JOIN pairs p ON g.src_a = p.src_a AND g.src_b = p.src_b
        ORDER BY g.src_a, g.src_b
        """).fetchall()
    )
    assert rows == orows


def test_x24_planted_leak_ratio(spark):
    """Planted leak: source 'a' has 20 shingle-window tokens, 12 of
    whose 8-token shingles also appear verbatim in source 'b'; 'c' is
    clean. The directed ratios must hit the exact arithmetic, and 'c'
    appears only in explicit zero-contamination grid rows (so a
    consumer can tell 'clean pair' from 'pair missing')."""
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        cross_source_contamination,
    )

    leak = " ".join(f"w{i}" for i in range(19))  # 19 tokens -> 12 shingles
    docs = spark.createDataFrame(
        [
            (1, "a", leak + " xa0 xa1 xa2"),       # 22 tokens -> 15 shingles
            (2, "b", "yb0 yb1 " + leak),           # 21 tokens -> 14 shingles
            (3, "c", " ".join(f"z{i}" for i in range(30))),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        (r["src_a"], r["src_b"]): r
        for r in cross_source_contamination(docs).collect()
    }
    assert set(got) == {
        (a, b) for a in "abc" for b in "abc" if a != b
    }
    ab, ba = got[("a", "b")], got[("b", "a")]
    assert ab["overlap_shingles"] == 12 and ab["total_a"] == 15
    assert ba["overlap_shingles"] == 12 and ba["total_a"] == 14
    assert ab["contamination"] == 0.8
    # floor(12/14*100 + 0.5)/100 == 0.86 exactly (85.71… + 0.5 floors to 86)
    assert abs(ba["contamination"] - 0.86) < 1e-9
    for pair in [("a", "c"), ("c", "a"), ("b", "c"), ("c", "b")]:
        assert got[pair]["overlap_shingles"] == 0
        assert got[pair]["contamination"] == 0.0
    assert got[("c", "a")]["total_a"] == 30 - 8 + 1  # 23 distinct shingles


# ---------------------------------------------------------------------------
# X25 — DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def test_x25_dsir_upweights_target_like_docs(spark):
    """Planted-distribution recovery: target docs share a distinctive
    vocabulary; raw-only docs use a disjoint one. Every held-out doc
    written in the target vocabulary must outscore every raw-vocabulary
    doc — the importance weight recovers distribution membership even
    though the held-out docs are NOT in the target slice."""
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        dsir_log_weights,
    )

    t_words = "alpha beta gamma delta epsilon zeta".split()
    r_words = "rock sand clay silt loam peat".split()
    rows = []
    # target slice: lang='en', target vocabulary
    for i in range(20):
        rows.append((i, "en", " ".join(t_words[(i + j) % 6] for j in range(12))))
    # raw background: other lang, raw vocabulary
    for i in range(20, 40):
        rows.append((i, "de", " ".join(r_words[(i + j) % 6] for j in range(12))))
    # held-out probes: NOT lang='en', one target-voc, one raw-voc
    rows.append((100, "fr", " ".join(t_words) + " " + " ".join(t_words)))
    rows.append((101, "fr", " ".join(r_words) + " " + " ".join(r_words)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    w = {
        r["doc_id"]: r["logw"]
        for r in dsir_log_weights(docs, F.col("lang") == "en").collect()
    }
    assert w[100] > w[101], (w[100], w[101])
    # every target-voc doc beats every raw-voc doc
    assert min(w[i] for i in range(20)) > max(w[i] for i in range(20, 40))


def test_x25_resample_is_deterministic_and_target_enriched(spark):
    import real_time_event_streaming_analytics_platform_spark as engine

    from .conftest import SF_DIR

    q = engine.QUERIES["x25_dsir_resample"]
    a = [tuple(r) for r in q(spark, SF_DIR).collect()]
    b = [tuple(r) for r in q(spark, SF_DIR).collect()]
    assert a == b
    assert len(a) == 100
    # corpus is ~44% en; DSIR targeting en must enrich well past that
    n_en = sum(1 for r in a if r[1] == "en")
    assert n_en >= 60, n_en


# ---------------------------------------------------------------------------
# T6b — Gopher rule battery (Rae et al. 2021 §A1.1)
# ---------------------------------------------------------------------------


def _gopher(spark, rows):
    from real_time_event_streaming_analytics_platform_spark.functions.text import (
        gopher_rules,
    )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r.asDict() for r in gopher_rules(docs).collect()}


def test_t6b_planted_violations_fire_the_right_rules(spark):
    base = " ".join(f"w{i} unique token stream alpha beta" for i in range(12))
    line10 = "one two three four five six seven eight nine ten"
    rows = [
        # 0: clean long doc — enough words, varied
        (0, " ".join(f"word{i} mix var{i * 7 % 13} text" for i in range(40))),
        # 1: duplicate lines — the same 10-word window repeated 6x + filler
        (1, " ".join([line10] * 6) + " " + base),
        # 2: top-2-gram domination — one bigram repeated through the doc
        (2, " ".join(["spam ham"] * 40) + " " + base),
        # 3: symbol-heavy — '#' every other word
        (3, " ".join("# word" for _ in range(30)) + " " + base),
        # 4: bullet lines
        (4, "\n".join(f"- item number {i} in the list" for i in range(20))
            + "\n" + base),
        # 5: ellipsis line endings
        (5, "\n".join(f"trailing thought number {i} goes on ..." for i in range(20))
            + "\n" + base),
        # 6: numeric soup — no alphabetic words
        (6, " ".join(str(i * 37) for i in range(80))),
    ]
    g = _gopher(spark, rows)
    assert not g[0]["gopher_flagged"], g[0]
    assert g[1]["dup_line_frac"] > 0.3 and g[1]["gopher_flagged"]
    assert g[1]["dup_line_char_frac"] > 0.2
    assert g[2]["top2_char_frac"] > 0.2 and g[2]["gopher_flagged"]
    assert g[3]["symbol_ratio"] > 0.1 and g[3]["gopher_flagged"]
    assert g[4]["bullet_line_frac"] > 0.9 and g[4]["gopher_flagged"]
    assert g[5]["ellipsis_line_frac"] > 0.3 and g[5]["gopher_flagged"]
    assert g[6]["alpha_word_frac"] < 0.8 and g[6]["gopher_flagged"]


def test_t6b_edge_cases_do_not_divide_by_zero(spark):
    g = _gopher(spark, [(0, ""), (1, "   "), (2, "one"), (3, "a b")])
    for d in g.values():
        for k, v in d.items():
            if isinstance(v, float):
                assert v == v and abs(v) < 1e9  # finite, no NaN
    # sub-50-word docs trip the word-count bound — all flagged
    assert all(d["gopher_flagged"] for d in g.values())


def test_t5_extended_pii_classes_detect_and_redact(spark):
    """IPv4/IPv6/SSN/credit-card (Luhn-validated) extension: each class
    counts and redacts; a 16-digit string failing Luhn is NOT a credit
    card; clock strings are NOT IPv6."""
    import hashlib

    from real_time_event_streaming_analytics_platform_spark.functions.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "server at 192.168.0.1 and 10.0.0.255 responded"),
            (2, "addr 2001:0db8:85a3:0000:0000:8a2e:2e03:7334 up at 12:34:56"),
            (3, "ssn 123-45-6789 on file"),
            (4, "pay 4111 1111 1111 1111 now"),          # Luhn-valid Visa test
            (5, "fake card 4111 1111 1111 1112 ignored"),  # fails Luhn
            (6, "card 4012-8888-8888-1881 and ip 8.8.8.8"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert rows[1]["n_ip4"] == 2 and rows[1]["n_ip6"] == 0
    assert rows[2]["n_ip6"] == 1 and rows[2]["n_ip4"] == 0  # clock not an IP
    assert rows[3]["n_ssn"] == 1 and rows[3]["n_phones"] == 0
    assert rows[4]["n_cc"] == 1
    assert rows[5]["n_cc"] == 0  # Luhn rejects
    assert rows[6]["n_cc"] == 1 and rows[6]["n_ip4"] == 1
    assert rows[4]["clean_digest"] == hashlib.md5(b"pay <CC> now").hexdigest()
    assert rows[1]["clean_digest"] == hashlib.md5(
        b"server at <IP> and <IP> responded"
    ).hexdigest()
    assert rows[3]["clean_digest"] == hashlib.md5(b"ssn <SSN> on file").hexdigest()


def test_x17b_approx_quartile_agrees_with_exact_ntile(spark):
    """The sketch-cut quartile must agree with x17's global-sort NTILE
    on ≥90% of documents (disagreements are confined to NTILE's
    forced-equal-bucket splits of value ties and the GK rank-error
    margin at the three boundaries), and its plan must contain no
    Window — that is the point of the twin."""
    import real_time_event_streaming_analytics_platform_spark as engine

    exact = {
        r["doc_id"]: r["quartile"]
        for r in engine.QUERIES["x17_unigram_surprisal"](spark, SF_DIR).collect()
    }
    approx_df = engine.QUERIES["x17b_surprisal_quartile_approx"](spark, SF_DIR)
    approx = {r["doc_id"]: r["quartile"] for r in approx_df.collect()}
    assert set(approx) == set(exact)
    agree = sum(1 for k in exact if exact[k] == approx[k]) / len(exact)
    assert agree >= 0.9, agree
    # quartiles are populated and ordered by value
    assert set(approx.values()) == {1, 2, 3, 4}
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]


def test_x17b_consume_reuses_the_per_doc_frame_the_cuts_read(spark):
    """x17b computes its approxQuantile cuts at build time from the
    per-document surprisal frame, which it persists: consuming the
    returned plan reads that frame instead of re-running the tokenize →
    count → join → aggregate pipeline, so it runs fewer Spark jobs than
    the build did (recomputing it runs exactly as many)."""
    import os

    import real_time_event_streaming_analytics_platform_spark as engine

    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, "x17b job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df, built = jobs(
        "x17b-build",
        lambda: engine.QUERIES["x17b_surprisal_quartile_approx"](
            spark, os.path.join(os.path.dirname(SF_DIR), "sf0.001")
        ),
    )
    _, consumed = jobs(
        "x17b-consume",
        lambda: df.write.format("noop").mode("overwrite").save(),
    )
    assert 0 < consumed < built, (built, consumed)


def test_x19b_capped_bigram_matches_duckdb_recompute(spark):
    """x19b is rows-only at the driver (slots full — the x24 r08 path)
    but oracle-GRADE locally: DuckDB recomputes the capped-vocabulary
    bigram surprisal end-to-end (top-V selection with the same
    count-DESC/token-ASC tie-break, '<unk>' folding, add-k smoothing
    over the FIXED V+1 model vocabulary) and every row must agree.
    V=8 here (the synthetic corpus has only ~31 distinct tokens) so
    the OOV path does real work at sf0.01."""
    import duckdb

    from real_time_event_streaming_analytics_platform_spark.functions.retrieval import (
        bigram_surprisal_capped,
    )

    V = 8
    docs = load(spark, SF_DIR, "documents")
    got = [tuple(r) for r in bigram_surprisal_capped(docs, vocab_size=V).collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = con.execute(f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                               w -> w != '') AS ws
            FROM documents
        ),
        pairs AS (
            SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
            FROM toks, UNNEST(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2
        ),
        cnt AS (SELECT t, count(*) AS c
                FROM (SELECT unnest(ws) AS t FROM toks) GROUP BY t),
        vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT {V}),
        mapped AS (
            SELECT doc_id,
                   CASE WHEN v1.t IS NULL THEN '<unk>' ELSE w1 END AS m1,
                   CASE WHEN v2.t IS NULL THEN '<unk>' ELSE w2 END AS m2
            FROM pairs
            LEFT JOIN vocab v1 ON v1.t = pairs.w1
            LEFT JOIN vocab v2 ON v2.t = pairs.w2
        ),
        bc AS (SELECT m1, m2, count(*) AS c2 FROM mapped GROUP BY 1, 2),
        cc AS (SELECT m1, CAST(sum(c2) AS BIGINT) AS c1 FROM bc GROUP BY 1),
        per AS (
            SELECT mapped.doc_id, count(*) AS nb,
                   CAST(SUM(CASE WHEN m1 = '<unk>' OR m2 = '<unk>'
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov,
                   SUM(ln((CAST(c1 AS DOUBLE) + 0.5 * {V + 1})
                          / (CAST(c2 AS DOUBLE) + 0.5))) / count(*) AS nll
            FROM mapped JOIN bc USING (m1, m2) JOIN cc USING (m1)
            GROUP BY mapped.doc_id
        )
        SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
               floor(oov * 10000 + 0.5) / 10000 AS oov_rate,
               floor(nll * 10000 + 0.5) / 10000 AS avg_surprisal
        FROM per ORDER BY doc_id
    """).fetchall()
    assert len(got) == len(want) and got == [tuple(r) for r in want]
    # the OOV path did real work at this V
    assert sum(1 for r in got if r[2] > 0) > 0


def test_x19b_vocab_is_bounded_and_default_matches_registry(spark):
    """The model's conditioning contexts are bounded by V+1 regardless
    of corpus vocabulary (the whole point of the cap), and the
    registered query runs with populated, sane columns."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.retrieval import (
        _UNK,
        bigram_surprisal_capped,
    )

    docs = load(spark, SF_DIR, "documents")
    V = 8
    out = bigram_surprisal_capped(docs, vocab_size=V)
    assert out.count() > 0
    # conditioning contexts bounded by V+1: re-derive the mapped m1 set
    # through the same builder by checking every doc has oov pressure
    # consistent with a tiny cap (at 31 distinct corpus tokens, V=8
    # must produce unks somewhere)
    assert out.where(F.col("oov_rate") > 0).count() > 0
    # registered default-V query
    rows = engine.QUERIES["x19b_bigram_surprisal_capped"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(0.0 <= r["oov_rate"] <= 1.0 for r in rows)
    assert all(r["avg_surprisal"] > 0 for r in rows)
    # default V exceeds the corpus vocabulary -> no unks, and the model
    # must then agree with x19 on which docs are MOST surprising (the
    # capped model only changes the smoothing denominator)
    assert all(r["oov_rate"] == 0.0 for r in rows)
    assert _UNK == "<unk>"


def test_bigram_table_stats_cap_bound_engages(spark):
    """The noise-free cap evidence (VERDICT r11 #3): at a V below the
    corpus vocabulary, x19b's model-table row count must sit at/below
    its (V+1)² construction bound AND strictly below x19's uncapped
    table — exact counts, no walls involved. At the registered default
    V (above the corpus vocabulary) the two tables must coincide, since
    nothing folds to '<unk>'."""
    from real_time_event_streaming_analytics_platform_spark.functions.retrieval import (
        bigram_table_stats,
    )

    docs = load(spark, SF_DIR, "documents")
    V = 8
    s = bigram_table_stats(docs, vocab_size=V)
    assert s["observed_vocab"] > V
    assert s["x19b_table_bound"] == (V + 1) ** 2
    assert s["x19b_table_rows"] <= s["x19b_table_bound"]
    assert s["x19b_table_rows"] < s["x19_table_rows"]
    # default V exceeds the corpus vocabulary -> identical tables
    s_default = bigram_table_stats(docs)
    assert s_default["x19b_table_rows"] == s_default["x19_table_rows"]


def test_d3b_clip_keeps_canonical_and_excises_duplicates(spark):
    """Planted verbatim dup: the lexicographically-first occurrence
    keeps its text intact; every later occurrence loses exactly the
    shared window's tokens; an unduplicated doc is untouched; a
    within-doc repeat clips its second occurrence (total-occurrence
    counting, ADVICE r09)."""
    import hashlib

    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        substring_dedup_clip,
    )

    shared = "one two three four five six seven eight"
    inner = "u1 u2 u3 u4 u5 u6 u7 u8"
    rows = [
        (1, f"alpha beta {shared} gamma delta epsilon zeta eta theta"),
        (2, f"iota kappa {shared} lam mu nu xi omicron"),
        (3, "totally unique words nothing here repeats at all ever once"),
        # within-doc verbatim repeat (ADVICE r09): the first occurrence
        # is canonical, the second clips — no other doc shares it.
        (4, f"aaa bbb {inner} ccc ddd {inner} eee"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dedup_clip(docs).collect()}
    assert out[1]["removed_tokens"] == 0
    assert out[1]["clean_digest"] == hashlib.md5(rows[0][1].encode()).hexdigest()
    assert out[2]["removed_tokens"] == 8
    cleaned2 = "iota kappa lam mu nu xi omicron"
    assert out[2]["clean_digest"] == hashlib.md5(cleaned2.encode()).hexdigest()
    assert out[3]["removed_tokens"] == 0
    assert out[4]["removed_tokens"] == 8
    cleaned4 = f"aaa bbb {inner} ccc ddd eee"
    assert out[4]["clean_digest"] == hashlib.md5(cleaned4.encode()).hexdigest()


def test_d3b_matches_duckdb_recompute_and_bounds_d3(spark):
    """DuckDB recomputes the clip pipeline over raw shingle STRINGS
    (no xxhash64) — every (doc_id, counts, digest) row must agree.
    Since r11 the recompute SQL IS the registered driver oracle
    (promoted per VERDICT r10 #2), so this asserts exact tuple-level
    equality on top of the driver's hash compare. Duplication counts
    TOTAL occurrences (within-doc repeats clip too, the Lee et al.
    exact-substring semantics — ADVICE r09), so the d3-coverage bound
    only applies to docs with no within-doc repeats; the
    planted-fixture test pins the cross-doc keeper/clipper split."""
    import duckdb

    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.dedup import (
        SPAN_K,
        _WS,
        substring_dedup_clip,
        substring_dup_spans,
    )

    docs = load(spark, SF_DIR, "documents")
    got = [tuple(r) for r in substring_dedup_clip(docs).collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    want = con.execute(engine.ORACLE["d3b_substring_dedup_clip"]).fetchall()
    assert len(got) == len(want) and got == [tuple(r) for r in want]

    # d3's coverage counts CROSS-DOC dup spans only, so it bounds the
    # clip mass exactly for docs with no within-doc repeated window.
    within = {
        r[0]
        for r in con.execute(f"""
            WITH words AS (
                SELECT doc_id, string_split_regex(trim(text), '{_WS}') AS w
                FROM documents
            ),
            sh AS (
                SELECT doc_id,
                       array_to_string(w[i.gen + 1 : i.gen + {SPAN_K}], ' ') AS sh
                FROM words, unnest(generate_series(0, len(w) - {SPAN_K})) AS i(gen)
                WHERE len(w) >= {SPAN_K}
            )
            SELECT DISTINCT doc_id FROM sh
            GROUP BY doc_id, sh HAVING count(*) >= 2
        """).fetchall()
    }
    cov = {r["doc_id"]: r["dup_tokens"] for r in substring_dup_spans(docs).collect()}
    for doc_id, tot, removed, _dig in got:
        assert removed <= tot
        if doc_id not in within:
            assert removed <= cov[doc_id], (doc_id, removed, cov[doc_id])


def test_x27_hard_negatives_label_correct_and_recall(spark):
    """Every mined pair crosses labels; per-anchor ranks are contiguous
    top-k; mean recall vs the exact different-label top-5 clears 0.75
    — the bar argued for this task, not inherited (VERDICT r09 #3):
    the measured curve is 0.586 @ nprobe=4, 0.834 @ nprobe=8 (the
    default at nlist=16), 1.0 @ nprobe=16 (= exact) at sf0.01, so 0.75
    pins the nprobe=8 operating point with a regression margin while
    any slip back to the nprobe=4 regime fails loudly; two runs agree.
    (The non-degenerate-nlist operating point is pinned separately by
    test_x27_recall_at_nondegenerate_nlist.)"""
    import real_time_event_streaming_analytics_platform_spark as engine

    q = engine.QUERIES["x27_hard_negative_mining"]
    out = q(spark, SF_DIR).collect()
    out2 = q(spark, SF_DIR).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in out2]

    emb = load(spark, SF_DIR, "embeddings").collect()
    vecs = {r["vec_id"]: (np.array(r["embedding"], float), r["label"]) for r in emb}
    assert all(vecs[r["qid"]][1] != vecs[r["cid"]][1] for r in out)
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["qid"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_anchor.values())

    ids = sorted(vecs)
    M = np.array([vecs[i][0] for i in ids])
    L = np.array([vecs[i][1] for i in ids])
    Mn = M / ((M**2).sum(1) ** 0.5)[:, None]
    S = Mn @ Mn.T
    got = {}
    for r in out:
        got.setdefault(r["qid"], set()).add(r["cid"])
    recalls = []
    for qi, q_id in enumerate(ids):
        if q_id not in got:
            continue
        s = S[qi]
        mask = L != L[qi]
        order = sorted(
            (j for j in range(len(ids)) if mask[j]), key=lambda j: (-s[j], ids[j])
        )
        recalls.append(len(got[q_id] & {ids[j] for j in order[:5]}) / 5)
    assert sum(recalls) / len(recalls) >= 0.75, sum(recalls) / len(recalls)


def test_x27_recall_at_nondegenerate_nlist(spark):
    """VERDICT r10 #4: the original recall curve ran at nlist=16 where
    nprobe=16 IS brute force. This pins the derived default
    nprobe = max(8, nlist // 4) at nlist=64 — no degenerate anchor:
    16 of 64 cells probed — on a 10× replica of sf0.01 (5 000 vectors,
    the bench Part B perturbation scheme). Measured 0.846 when the bar
    was set; 0.75 keeps the regression margin while a slip to the
    nprobe=8 regime (0.569 measured at 20 000 vectors) fails loudly.
    Also asserts the default rule itself."""
    from pyspark.sql import functions as F

    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        hard_negatives,
        x27_default_nprobe,
    )

    assert [x27_default_nprobe(n) for n in (None, 16, 64, 256)] == [8, 8, 16, 64]
    assert x27_default_nprobe(4) == 4  # never exceeds nlist

    rep = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("_rep")
    big = F.col("_rep").cast("bigint")
    emb10 = (
        load(spark, SF_DIR, "embeddings")
        .select("*", rep)
        .select(
            (F.col("vec_id") + big * F.lit(10**9)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x: (x + F.col("_rep").cast("float") * F.lit(0.003)).cast(
                    "float"
                ),
            ).alias("embedding"),
            "label",
        )
    )
    rows = emb10.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    lab = np.array([r["label"] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    mined = {}
    for r in hard_negatives(emb10, nlist=64).collect():  # nprobe defaults to 16
        mined.setdefault(r["qid"], set()).add(r["cid"])

    recalls = []
    n = len(ids)
    for s in range(0, n, 1024):
        e = min(s + 1024, n)
        S = Xn[s:e] @ Xn.T
        for i in range(s, e):
            if ids[i] not in mined:
                continue
            row = S[i - s].copy()
            row[lab == lab[i]] = -np.inf
            top = np.argpartition(-row, 5)[:20]
            top = top[np.lexsort((ids[top], -row[top]))][:5]
            exact = {int(ids[j]) for j in top}
            recalls.append(len(exact & mined[ids[i]]) / 5)
    assert len(recalls) == n
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.75, mean_recall


def test_x27_planted_hard_negative_found(spark):
    """Two tight same-direction clusters with different labels: each
    vector's hardest negative is the opposite-label vector planted at
    cosine ≈ 1, and mining must rank it first."""
    from real_time_event_streaming_analytics_platform_spark.functions.similarity import (
        hard_negatives,
    )

    rows = []
    dim = 8
    for i in range(30):
        base = [0.0] * dim
        base[i % 4] = 1.0
        base[(i % 4) + 4] = 0.01 * (i // 4)  # slight spread within the direction
        # pairs (2i, 2i+1): identical direction, different labels
        rows.append((2 * i, [float(x) for x in base], 0))
        rows.append((2 * i + 1, [float(x) for x in base], 1))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = hard_negatives(emb, k=1)
    top = {r["qid"]: r["cid"] for r in out.collect()}
    hits = sum(1 for i in range(30) if top.get(2 * i) == 2 * i + 1)
    # identical-direction twins tie at cos=1.0 with other same-direction
    # vectors; the rank-1 pick must still be an opposite-label twin
    # direction — require the planted partner for >=80% of anchors
    assert hits >= 24, hits


def test_x25b_incremental_dsir_stats_match_full_recompute(spark):
    """The DSIR model's state is pure integer bucket counts, so
    admitting a new batch must be EXACT: stats(full corpus) ==
    merge(stats(half A), stats(half B)) row-for-row, and scoring under
    the merged standing model is bitwise-identical to the one-shot
    fit — the x2f/x3f standing-index discipline for the resampler."""
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        dsir_bucket_stats,
        dsir_log_weights,
        dsir_log_weights_from_stats,
        dsir_merge_stats,
    )

    docs = load(spark, SF_DIR, "documents")
    target = F.col("lang") == "en"
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)

    full = {r["b"]: (r["cr"], r["ct"]) for r in dsir_bucket_stats(docs, target).collect()}
    merged_df = dsir_merge_stats(
        dsir_bucket_stats(a, target), dsir_bucket_stats(b, target)
    )
    merged = {r["b"]: (r["cr"], r["ct"]) for r in merged_df.collect()}
    assert full == merged

    one_shot = {r["doc_id"]: r["logw"] for r in dsir_log_weights(docs, target).collect()}
    standing = {
        r["doc_id"]: r["logw"]
        for r in dsir_log_weights_from_stats(docs, merged_df, target).collect()
    }
    assert set(one_shot) == set(standing)
    assert all(one_shot[k] == standing[k] for k in one_shot)  # bitwise


def test_s30_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """S30: scoring an arriving document stream under a FROZEN DSIR
    model (the collected ln-ratio table) must match the batch scorer to
    float-merge tolerance — same terms, different addition order — and
    cover every arriving doc (gramless docs score 0, the batch scorer's
    weight-1 convention)."""
    import json as _json

    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        dsir_bucket_stats,
        dsir_lnr,
        dsir_log_weights_from_stats,
        dsir_score_stream,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    target = F.col("lang") == "en"
    stats = dsir_bucket_stats(docs, target)
    lnr_rows = dsir_lnr(stats).collect()
    batch = {
        r["doc_id"]: r["logw"]
        for r in dsir_log_weights_from_stats(docs, stats, target).collect()
    }

    rows = [r.asDict() for r in docs.select("doc_id", "text").collect()]
    src = tmp_path / "in"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(src / f"part{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = (
        dsir_score_stream(stream, lnr_rows)
        .writeStream.format("memory")
        .queryName("s30_scores")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["logw"] for r in spark.sql("SELECT * FROM s30_scores").collect()
    }
    assert set(got) == {r["doc_id"] for r in rows}  # every arriving doc scored
    assert set(batch) <= set(got)
    for k, v in batch.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def test_x28_budget_keep_set_is_priority_prefix(spark):
    """The kept set per source must be exactly the longest prefix of
    the (n_chars DESC, doc_id) priority order whose inclusive token
    cumsum fits the budget — recomputed independently in pandas."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        X28_TOKEN_BUDGET,
        _WS_TOK_SPARK,
    )

    got = {
        r["source"]: (r["n_docs"], r["n_kept"], r["kept_tokens"], r["total_tokens"])
        for r in engine.QUERIES["x28_source_token_budget"](spark, SF_DIR).collect()
    }
    rows = (
        load(spark, SF_DIR, "documents")
        .select("source", "doc_id", "n_chars", F.expr(_WS_TOK_SPARK).alias("tokens"))
        .collect()
    )
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == set(got)
    for src, docs in by_src.items():
        docs.sort(key=lambda r: (-r["n_chars"], r["doc_id"]))
        cum = kept = kept_tok = 0
        prefix_ended = False
        for r in docs:
            cum += r["tokens"]
            if cum <= X28_TOKEN_BUDGET:
                assert not prefix_ended, f"{src}: kept set not a prefix"
                kept += 1
                kept_tok += r["tokens"]
            else:
                prefix_ended = True
        total = sum(r["tokens"] for r in docs)
        assert got[src] == (len(docs), kept, kept_tok, total), src


def test_x29_rates_monotone_and_balance_improves(spark):
    """sqrt-temperature rates: the smallest language keeps everything
    (rate_256 == 256), rates are non-increasing in language size, and
    the kept-count max/min imbalance is strictly reduced vs raw counts
    (that is the operator's whole purpose)."""
    import real_time_event_streaming_analytics_platform_spark as engine

    rows = engine.QUERIES["x29_temperature_resample"](spark, SF_DIR).collect()
    assert len(rows) >= 2
    by_cnt = sorted(rows, key=lambda r: r["n_docs"])
    assert by_cnt[0]["rate_256"] == 256
    assert by_cnt[0]["n_kept"] == by_cnt[0]["n_docs"]
    for a, b in zip(by_cnt, by_cnt[1:]):
        assert a["rate_256"] >= b["rate_256"]
        # expected kept ≈ cnt * sqrt(cnt_min/cnt); the /256 hex-prefix
        # decision is uniform enough on md5 that kept stays within a
        # loose binomial band
        import math

        exp = b["n_docs"] * min(1.0, b["rate_256"] / 256.0)
        assert abs(b["n_kept"] - exp) <= 4 * math.sqrt(max(exp, 1.0)) + 2, (
            b["lang"],
            b["n_kept"],
            exp,
        )
    pre = by_cnt[-1]["n_docs"] / by_cnt[0]["n_docs"]
    post = max(r["n_kept"] for r in rows) / max(
        1, min(r["n_kept"] for r in rows)
    )
    assert post < pre


def test_x30_write_shards_roundtrip(spark, tmp_path):
    """write_shards is the x30 export: 16 shard directories, every doc
    exactly once, each shard containing only md5-first-hex-matching
    docs in ascending full-md5 order, and the manifest's first/last
    docs are the shard boundaries of the written order."""
    import real_time_event_streaming_analytics_platform_spark as engine
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        X30_SHARDS,
        write_shards,
    )

    docs = load(spark, SF_DIR, "documents").select("doc_id")
    out = str(tmp_path / "shards")
    write_shards(docs, out)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    manifest = {
        r["shard"]: r
        for r in engine.QUERIES["x30_shard_manifest"](spark, SF_DIR).collect()
    }
    seen_shards = [r["shard"] for r in back.select("shard").distinct().collect()]
    assert set(seen_shards) == set(manifest) and len(manifest) <= X30_SHARDS
    hexpos = "0123456789abcdef"
    for shard in sorted(manifest):
        rows = spark.read.parquet(f"{out}/shard={shard}").collect()
        hs = [r["h"] for r in rows]
        assert all(hexpos.index(h[0]) == shard for h in hs)
        files = {r["h"]: r for r in rows}
        assert len(files) == len(rows)
        assert min(hs) == [
            r["h"] for r in rows if r["doc_id"] == manifest[shard]["first_doc"]
        ][0]
        assert max(hs) == [
            r["h"] for r in rows if r["doc_id"] == manifest[shard]["last_doc"]
        ][0]
    # every written parquet part holds its rows in ascending h — the
    # dataloader contract. Requires the task sort to LEAD with the
    # partition column: a task holding several shards (mod-16
    # collisions) is otherwise re-sorted by the dynamic-partition
    # writer, scrambling h (this was a real latent bug).
    by_file: dict = {}
    for r in back.select("h", F.input_file_name().alias("f")).collect():
        by_file.setdefault(r["f"], []).append(r["h"])
    assert by_file
    for f, hs in by_file.items():
        assert hs == sorted(hs), f"unsorted shard file {f}"


def test_funnel_temperature_stage_composes(spark):
    """curation_funnel(temp_rates=...) appends the x29 temperature
    decision as the final stage: n_mix equals the no-stage n_kept per
    source, downstream counts are bounded, the stage rejects real docs
    on this en-dominated corpus, and with the stage off the columns
    are exactly the registered x10 oracle's."""
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        curation_funnel,
        temperature_rates,
    )

    docs = load(spark, SF_DIR, "documents")
    base = {r["source"]: r.asDict() for r in curation_funnel(docs).collect()}
    temp = {
        r["source"]: r.asDict()
        for r in curation_funnel(
            docs, temp_rates=temperature_rates(docs)
        ).collect()
    }
    assert "n_mix" not in next(iter(base.values()))
    cols = list(next(iter(temp.values())))
    assert cols.index("n_clean") < cols.index("n_mix") < cols.index("n_kept")
    dropped = 0
    for src, t in temp.items():
        b = base[src]
        assert t["n_mix"] == b["n_kept"], src
        assert t["n_kept"] <= t["n_mix"] and t["kept_tokens"] <= b["kept_tokens"]
        assert (
            t["n_quality"] >= t["n_dedup"] >= t["n_clean"] >= t["n_mix"]
            >= t["n_kept"]
        ), t
        dropped += t["n_mix"] - t["n_kept"]
    assert dropped > 0  # 'en' dominates the corpus, so the stage bites


def test_temperature_alpha_endpoints_and_monotonicity(spark):
    """General-α rate table: α=1 keeps every language in full, α=0
    equalizes expected kept counts (rate = cnt_min/cnt), rates are
    monotone in α for every over-represented language, and α=0.5
    reproduces the registered sqrt path exactly."""
    from real_time_event_streaming_analytics_platform_spark.functions.pipeline import (
        temperature_rates,
    )

    docs = load(spark, SF_DIR, "documents")
    tables = {
        a: {r["lang"]: r for r in temperature_rates(docs, alpha=a).collect()}
        for a in (0.0, 0.3, 0.5, 0.7, 1.0)
    }
    langs = set(tables[0.5])
    cnt_min = min(r["cnt"] for r in tables[0.5].values())
    for lang in langs:
        assert tables[1.0][lang]["rate_256"] == 256
        cnt = tables[0.5][lang]["cnt"]
        assert tables[0.0][lang]["rate_256"] == int((cnt_min / cnt) * 256)
        seq = [tables[a][lang]["rate_256"] for a in (0.0, 0.3, 0.5, 0.7, 1.0)]
        assert seq == sorted(seq), (lang, seq)
    default = {r["lang"]: r["rate_256"] for r in temperature_rates(docs).collect()}
    assert default == {k: v["rate_256"] for k, v in tables[0.5].items()}
