"""Unit tests for the LLM-pipeline operators (text / dedup / similarity /
multimodal) on handwritten fixtures — the oracle-checked catalog queries
cover the distributed paths; these pin the scalar semantics."""

import pytest
from pyspark.sql import functions as F

from etl_wrap_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        (3, "completely different content with no overlap whatsoever here at all"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (5, "der hund ist nicht mit der katze und das ist gut"),
        (6, "le chat est une petite merveille et la vie est belle pour les amis"),
        (7, "el perro es una maravilla para los amigos y las familias por ahora"),
        (8, "中文文本在这里"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_and_quality(spark, docs):
    r = {
        row["doc_id"]: row
        for row in docs.select(
            "doc_id",
            text.token_count("text").alias("n"),
            text.stopword_hits("text").alias("sw"),
            text.quality_flags("text").alias("flags"),
        ).collect()
    }
    assert r[1]["n"] == 14
    assert r[1]["sw"] == 3  # 'the' x3
    assert "too_short" in r[8]["flags"]


def test_lang_id(spark, docs):
    r = {row["doc_id"]: row["lang"] for row in docs.select("doc_id", text.lang_id("text").alias("lang")).collect()}
    assert r[1] == "en"
    assert r[5] == "de"
    assert r[6] == "fr"
    assert r[7] == "es"
    assert r[8] == "zh"
    assert r[3] == "und"  # no marker tokens at all


def test_exact_duplicates(spark, docs):
    dups = dedup.exact_duplicates(docs, "doc_id", "text").collect()
    assert len(dups) == 1
    assert dups[0]["n_copies"] == 2 and dups[0]["canonical_id"] == 1


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.near_dup_pairs_minhash(docs, "doc_id", "text", n=3, num=2, den=1)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # 1-token edit
    assert (1, 4) in got  # exact dup
    assert (2, 4) in got
    assert not any(3 in p or 8 in p for p in got)


def test_exact_jaccard_matches_python(spark, docs):
    rows = docs.collect()

    def sh(t):
        tok = t.split()
        return {" ".join(tok[i : i + 3]) for i in range(max(len(tok) - 2, 1))}

    expected = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            sa, sb = sh(a["text"]), sh(b["text"])
            if 2 * len(sa & sb) >= len(sa | sb):
                expected.add((min(a["doc_id"], b["doc_id"]), max(a["doc_id"], b["doc_id"])))
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.exact_jaccard_pairs(docs, "doc_id", "text", n=3)
        .where(2 * F.col("inter") >= F.col("uni"))
        .collect()
    }
    assert got == expected


def test_simhash_near_pairs(spark, docs):
    sig = dedup.simhash_signatures(docs, "doc_id", "text")
    # short fixture docs flip ~8 bits on a 1-token edit; 5-bit bands give
    # 12 bands → collision guaranteed for hamming <= 11
    near = dedup.simhash_near_pairs(sig, "doc_id", max_hamming=8, band_bits=5)
    got = {(r["id_a"], r["id_b"]) for r in near.collect()}
    assert (1, 4) in got  # identical text → hamming 0
    assert (1, 2) in got  # 1-token edit → tiny hamming
    assert (1, 3) not in got


def test_simhash_identical_text_same_signature(spark, docs):
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs, "doc_id", "text").collect()}
    assert sig[1] == sig[4]
    assert sig[1] != sig[3]


def test_brute_force_topk_self_nearest(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)], 0) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    # corpus includes the queries themselves → rank-1 neighbor is self, cos ≈ 1
    top = similarity.brute_force_topk(df.where("vec_id < 3"), df, "vec_id", "vec_id", "embedding", k=1, baseline=True)
    for r in top.collect():
        assert r["cid"] == r["qid"] and r["cos"] == pytest.approx(1.0)


def test_signlsh_multiprobe_recall(spark):
    """Multi-probe sign-LSH recovers neighbors lost to near-boundary
    hyperplane signs: recall vs the exact brute-force top-k must rise
    monotonically with probe radius and reach >=0.85 at radius 2 on the
    sf0.01 embeddings (measured 0.13 / 0.40 / 0.90 — deterministic:
    fixed planes, fixed corpus)."""
    from etl_wrap_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", ["embeddings"])
    e = t["embeddings"]
    q = e.where(F.col("vec_id") % 50 == 0)
    c = e.where(F.col("vec_id") % 50 != 0)
    truth = {(r["qid"], r["cid"]) for r in
             similarity.brute_force_topk(q, c, "vec_id", "vec_id", "embedding", k=3, baseline=True).collect()}
    recalls = []
    for radius in (0, 1, 2):
        got = {(r["qid"], r["cid"]) for r in
               similarity.signlsh_topk(q, c, "vec_id", "vec_id", "embedding", k=3,
                                       probe_radius=radius).collect()}
        recalls.append(len(got & truth) / len(truth))
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[2] >= 0.85


def test_multimodal_decode_plumbing(spark):
    df = spark.range(4).select(F.col("id"), F.encode(F.concat(F.lit("payload-"), F.col("id")), "UTF-8").alias("blob"))
    media = multimodal.media_frame_from_binary(df, "id", "blob", "image")
    feats = multimodal.with_decoded_features(media, fake=True).collect()
    assert len(feats) == 4
    for r in feats:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert r["content_length"] == len(b"payload-0")
    # deterministic: same content → same feature
    again = multimodal.with_decoded_features(media, fake=True).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {r["media_id"]: r["feature"] for r in again}


def test_multimodal_image_decode_raises_without_pillow():
    # PNG now decodes stdlib-real; only NON-PNG formats still need
    # Pillow. A JPEG-signature blob must keep the raise contract.
    if multimodal._pil() is not None:
        pytest.skip("Pillow present — covered by test_decode_image_real_pillow")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 64, fake=False)


def _encode_png(width, height, ctype, pixels, filters=None, plte=None):
    """Minimal stdlib PNG writer for decoder tests: 8-bit, non-interlaced,
    per-scanline filter choice (0-4) applied via the FORWARD filter so the
    decoder's defilter must invert it exactly."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    stride = width * channels
    filters = filters or [0] * height
    raw = bytearray()
    prev = bytearray(stride)
    for y in range(height):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        f = filters[y]
        enc = bytearray(line)
        for i in range(stride):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 1:
                enc[i] = (line[i] - a) & 0xFF
            elif f == 2:
                enc[i] = (line[i] - b) & 0xFF
            elif f == 3:
                enc[i] = (line[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pr) & 0xFF
        raw.append(f)
        raw.extend(enc)
        prev = line

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


def _luma(r, g, b):
    return (19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16


def test_png_stdlib_decode_grayscale_exact():
    # 8x8 gradient, every filter type exercised across rows
    px = bytes((x * 31 + y * 7) % 256 for y in range(8) for x in range(8))
    blob = _encode_png(8, 8, 0, px, filters=[0, 1, 2, 3, 4, 4, 2, 1])
    w, h, gray = multimodal._png_gray_pixels(blob)
    assert (w, h) == (8, 8)
    assert bytes(gray) == px
    # decode_image: 4x4 center-of-cell nearest over the exact pixels
    feat = multimodal.decode_image(blob, fake=False)
    expect = [
        round(px[((2 * y + 1) * 8 // 8) * 8 + ((2 * x + 1) * 8 // 8)] / 255.0, 6)
        for y in range(4)
        for x in range(4)
    ]
    assert feat == expect


def test_png_stdlib_decode_rgb_rgba_luma():
    px_rgb = bytes(v for j in range(16) for v in (j * 16, 255 - j * 16, j * 5))
    blob = _encode_png(4, 4, 2, px_rgb, filters=[4, 3, 1, 2])
    w, h, gray = multimodal._png_gray_pixels(blob)
    assert (w, h) == (4, 4)
    assert list(gray) == [
        _luma(j * 16, 255 - j * 16, j * 5) for j in range(16)
    ]
    # RGBA: alpha must be ignored (convert("L") semantics)
    px_rgba = bytes(
        v for j in range(16) for v in (j * 16, 255 - j * 16, j * 5, 7 * j)
    )
    _, _, gray4 = multimodal._png_gray_pixels(_encode_png(4, 4, 6, px_rgba))
    assert bytes(gray4) == bytes(gray)


def test_png_stdlib_decode_palette_and_gray_alpha():
    plte = bytes(v for i in range(4) for v in (i * 60, 255 - i * 60, i * 10))
    idx = bytes([0, 1, 2, 3] * 4)
    _, _, gray = multimodal._png_gray_pixels(
        _encode_png(4, 4, 3, idx, plte=plte)
    )
    assert list(gray) == [
        _luma(plte[3 * i], plte[3 * i + 1], plte[3 * i + 2]) for i in idx
    ]
    # gray+alpha: alpha channel dropped
    ga = bytes(v for i in range(16) for v in ((i * 13) % 256, 128))
    _, _, g2 = multimodal._png_gray_pixels(_encode_png(4, 4, 4, ga))
    assert list(g2) == [(i * 13) % 256 for i in range(16)]


def test_png_stdlib_decode_unsupported_variants_fall_through():
    import struct
    import zlib

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    # 16-bit depth → None (Pillow fallback / raise)
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    blob16 = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 18)) + chunk(b"IEND", b"")
    )
    assert multimodal._png_gray_pixels(blob16) is None
    # interlaced → None
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    blob_i = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr_i)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10)) + chunk(b"IEND", b"")
    )
    assert multimodal._png_gray_pixels(blob_i) is None
    if multimodal._pil() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(blob16, fake=False)


def test_png_stdlib_decode_malformed_returns_none():
    """Round-6 ADVICE: corrupt blobs must return None (falling through
    to the Pillow/raise contract), never crash the executor task."""
    import struct
    import zlib

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    # truncated IHDR body (<13 bytes) — used to crash at body[8]
    assert multimodal._png_gray_pixels(
        sig + chunk(b"IHDR", b"\x00" * 7) + chunk(b"IEND", b"")
    ) is None
    # corrupt zlib stream in IDAT
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    assert multimodal._png_gray_pixels(
        sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", b"\xde\xad\xbe\xef")
        + chunk(b"IEND", b"")
    ) is None
    # palette index past PLTE (1-entry palette, index 3) — used to crash
    # the luma loop
    bad_pal = _encode_png(2, 2, 3, bytes([0, 1, 2, 3]), plte=bytes(3))
    assert multimodal._png_gray_pixels(bad_pal) is None
    # truncated file mid-IDAT: decompress fails or scanlines short → None
    good = _encode_png(4, 4, 0, bytes(range(16)))
    assert multimodal._png_gray_pixels(good[: len(good) - 20]) is None


def test_png_stdlib_decode_in_mapinpandas(spark):
    """The real-decode path runs distributed: PNG blobs through
    with_decoded_features(fake=False) — no imaging library, real pixels."""
    blobs = [
        _encode_png(8, 8, 0, bytes((x * 31 + y * 7 + s) % 256
                                   for y in range(8) for x in range(8)),
                    filters=[0, 1, 2, 3, 4, 0, 2, 1])
        for s in range(6)
    ]
    rows = [(i, b) for i, b in enumerate(blobs)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    media = multimodal.media_frame_from_binary(df, "id", "blob", "image")
    out = {r["media_id"]: r["feature"]
           for r in multimodal.with_decoded_features(media, fake=False).collect()}
    assert len(out) == 6
    import numpy as np

    for i, blob in enumerate(blobs):
        # FEATURE_SCHEMA carries float32; compare through the same cast
        expect = np.asarray(
            multimodal.decode_image(blob, fake=False), dtype=np.float32
        )
        assert np.array_equal(np.asarray(out[i], dtype=np.float32), expect)


def test_decode_image_real_pillow():
    """Env-gated REAL pixel decode: runs wherever Pillow is installed
    (round-4 VERDICT #8), skips here."""
    Image = multimodal._pil()
    if Image is None:
        pytest.skip("Pillow not installed")
    import io

    img = Image.new("L", (8, 8))
    img.putdata([(x * 31) % 256 for x in range(64)])
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    feat = multimodal.decode_image(buf.getvalue(), fake=False)
    assert len(feat) == multimodal.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in feat)
    assert feat == multimodal.decode_image(buf.getvalue(), fake=False)


def test_decode_audio_pcm_wav_real_stdlib():
    """16-bit PCM WAV decodes REAL samples with no optional dependency:
    a half-silent / half-loud waveform yields quiet leading and loud
    trailing segment-RMS values."""
    import io
    import struct
    import wave

    n = 1600
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(16000)
    w.writeframes(b"".join(
        struct.pack("<h", 0 if i < n // 2 else 16000) for i in range(n)
    ))
    w.close()
    feat = multimodal.decode_audio(buf.getvalue(), fake=False)
    assert len(feat) == multimodal.FEATURE_DIM
    half = multimodal.FEATURE_DIM // 2
    assert all(v == 0.0 for v in feat[:half])
    assert all(abs(v - 16000 / 32768) < 1e-6 for v in feat[half:])
    # stereo: only the FIRST channel is measured
    buf2 = io.BytesIO()
    w2 = wave.open(buf2, "wb")
    w2.setnchannels(2)
    w2.setsampwidth(2)
    w2.setframerate(16000)
    w2.writeframes(b"".join(struct.pack("<hh", 8000, 0) for _ in range(n)))
    w2.close()
    feat2 = multimodal.decode_audio(buf2.getvalue(), fake=False)
    assert all(abs(v - 8000 / 32768) < 1e-6 for v in feat2)


def test_decode_audio_nonwav_contract():
    blob = b"OggS not a wav"
    if multimodal._soundfile() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(blob, fake=False)
    feat = multimodal.decode_audio(blob, fake=True)
    assert len(feat) == multimodal.FEATURE_DIM


def test_with_decoded_features_audio_decoder(spark):
    """The mapInPandas plumbing takes decode_audio as the decoder and
    produces REAL (stdlib PCM) features distributed."""
    import io
    import struct
    import wave

    def wav_const(val):
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(b"".join(struct.pack("<h", val) for _ in range(800)))
        w.close()
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, wav_const(0)), (2, wav_const(16384))], "id LONG, blob BINARY"
    )
    media = multimodal.media_frame_from_binary(df, "id", "blob", "audio")
    feats = {r["media_id"]: r["feature"] for r in multimodal.with_decoded_features(
        media, decoder=multimodal.decode_audio
    ).collect()}
    assert all(v == 0.0 for v in feats[1])
    assert all(abs(v - 0.5) < 1e-6 for v in feats[2])


def test_lookup_enrich_policies(spark):
    from etl_wrap_spark.operators.lookup import enrich

    facts = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], ["k", "v"])
    lk = spark.createDataFrame([(1, "one"), (2, "two"), (2, "dup")], ["key", "name"])
    kept = enrich(facts, lk, on={"k": "key"})
    rows = {r["k"]: r["name"] for r in kept.collect()}
    assert rows[3] is None and rows[1] == "one"
    dropped = enrich(facts, lk, on={"k": "key"}, missing="drop")
    assert sorted(r["k"] for r in dropped.collect()) == [1, 2]
    matched, unmatched = enrich(facts, lk, on={"k": "key"}, missing="quarantine")
    assert sorted(r["k"] for r in matched.collect()) == [1, 2]
    assert [r["k"] for r in unmatched.collect()] == [3]
    # broadcast hint survives into the physical plan
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_assign_split_deterministic_and_complete(spark):
    from etl_wrap_spark.operators.sampling import assign_split

    df = spark.range(2000).select(F.col("id"))
    a = assign_split(df, "id")
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert 0.7 < counts["train"] / 2000 < 0.9  # ~80%
    b = assign_split(df, "id")  # identical on re-run
    assert a.select("id", "split").subtract(b.select("id", "split")).count() == 0
    # a different salt draws an independent split
    c = assign_split(df, "id", salt="other")
    assert a.select("id", "split").subtract(c.select("id", "split")).count() > 0
    with pytest.raises(ValueError, match="sum to 1"):
        assign_split(df, "id", weights=(("a", 0.5), ("b", 0.2)))


def test_pack_sequences_capacity(spark):
    from etl_wrap_spark.operators.sampling import pack_sequences

    rows = [(1, i, 300) for i in range(20)]  # 20 docs x 300 tokens, one group
    df = spark.createDataFrame(rows, ["g", "i", "sz"])
    binned = pack_sequences(df, "g", "i", "sz", bin_capacity=1000)
    per_bin = {
        r["bin"]: r["t"]
        for r in binned.groupBy("bin").agg(F.sum("sz").alias("t")).collect()
    }
    # prefix-floor binning: every non-last bin's total sits within one
    # row size of the capacity (above or below)
    for b, total in per_bin.items():
        if b != max(per_bin):  # last bin may be a remainder
            assert 1000 - 300 < total < 1000 + 300


def test_pii_redaction_unit(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.com or +43 664 123 4567 from 10.0.0.1",),
            ("no pii here at all",),
        ],
        ["t"],
    )
    rows = df.select(text.redact_pii("t").alias("r"), text.pii_hits("t").alias("n")).collect()
    assert rows[0]["r"] == "mail [EMAIL] or [PHONE] from [IP]" and rows[0]["n"] == 3
    assert rows[1]["r"] == "no pii here at all" and rows[1]["n"] == 0


def test_pii_hits_mirror_redaction_on_adjacent_pii(spark):
    # Adjacent identifiers with no separators: counting must see prior
    # patterns' placeholder TOKENS (as redact_pii does), not deletions
    # that splice surrounding digit runs together.
    df = spark.createDataFrame([("a@b.co111.222.333.444 1-234-5678",)], ["t"])
    row = df.select(text.redact_pii("t").alias("r"), text.pii_hits("t").alias("n")).collect()[0]
    assert row["r"] == "[EMAIL][IP] [PHONE]"
    assert row["n"] == 3


def test_contamination_check_verbatim_and_clean(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),            # contains eval 10's full text
            (2, "totally different words here with no overlap at all"),
            (3, "x a b c d e f g h i j y z"),      # superset of eval 10
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame([(10, "a b c d e f g h i j")], ["doc_id", "text"])
    rows = {
        (r["train_id"], r["eval_id"]): (r["hits"], r["eval_shingles"], r["containment_bp"])
        for r in dedup.contamination_check(train, evals, "doc_id", "text", n=8).collect()
    }
    # eval text has 10 tokens -> 3 distinct 8-gram shingles
    assert rows[(1, 10)] == (3, 3, 10000)   # verbatim: full containment
    assert rows[(3, 10)] == (3, 3, 10000)   # superset contains all eval shingles
    assert (2, 10) not in rows              # clean doc never pairs


def test_connected_components_chain_and_singleton_free(spark, distributed):
    # components: {1,2,3,4} via a chain (diameter 3), {7,9}; 100 has no
    # edges; a pair listed in both orders, (10, 11) and (11, 10), is one
    # component — the same rows on the driver and distributed routes
    cases = [
        ([(1, 2), (2, 3), (3, 4), (9, 7)],
         {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7}),
        ([(1, 2), (2, 3), (3, 4), (9, 7), (10, 11), (11, 10)],
         {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7, 10: 10, 11: 10}),
    ]
    for edges, want in cases:
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
        assert got == want
        with distributed():
            got = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
        assert got == want


def test_tune_lsh_params_properties():
    # fixed 32-perm split at J>=0.5: the curve's inflection (1/b)^(1/r)
    # should land near the threshold
    b, r = dedup.tune_lsh_params(0.5, 32)
    assert b * r <= 32
    assert 0.2 < (1.0 / b) ** (1.0 / r) < 0.8
    # raising the threshold never lowers rows-per-band (steeper curve)
    rows_at = [dedup.tune_lsh_params(t, 64)[1] for t in (0.2, 0.5, 0.8, 0.95)]
    assert rows_at == sorted(rows_at)
    # coefficient prefix property: 32-hash coefficients are a prefix of 64
    assert dedup.minhash_ab(64)[:32] == dedup.MINHASH_AB
    with pytest.raises(ValueError):
        dedup.tune_lsh_params(1.5)


def test_near_dup_pairs_auto_tuned_matches_default(spark, docs):
    default = {
        (r["id_a"], r["id_b"])
        for r in dedup.near_dup_pairs_minhash(docs, "doc_id", "text").collect()
    }
    tuned = {
        (r["id_a"], r["id_b"])
        for r in dedup.near_dup_pairs_minhash(
            docs, "doc_id", "text", auto_tune=True, num_perm=64
        ).collect()
    }
    # exact verify gates both; the tuned variant must keep the known dups
    assert {(1, 2), (1, 4), (2, 4)} <= tuned
    assert tuned <= default | {(1, 2), (1, 4), (2, 4)}


def test_connected_components_long_chain(spark, monkeypatch):
    # a 64-edge chain: diameter 64, one hop per round would need 64; the
    # distributed star rounds (forced by rounds_out) follow log2 n
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    rounds: list = []
    got = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs, rounds_out=rounds).collect()}
    assert got == {i: 0 for i in range(65)}
    assert 0 < len(rounds) <= 8
    # an exhausted round bound raises instead of returning a partial labeling
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, rounds_out=[])


def test_connected_components_string_ids(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {r["doc_id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_ivf_topk_recall_and_probe_monotonicity(spark):
    """IVF list pruning: recall vs exact brute force rises with nprobe
    and the full probe (nprobe = n_cells) is EXACT — every cell is
    scanned, so the top-k equals brute force bit-for-bit."""
    from etl_wrap_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", ["embeddings"])
    e = t["embeddings"]
    q = e.where(F.col("vec_id") % 50 == 0)
    c = e.where(F.col("vec_id") % 50 != 0)
    truth = {(r["qid"], r["cid"]) for r in
             similarity.brute_force_topk(q, c, "vec_id", "vec_id", "embedding", k=3, baseline=True).collect()}
    cent = similarity.ivf_centroids_deterministic(c, "vec_id", "embedding", 8)
    recalls = []
    for nprobe in (1, 2, 8):
        got = {(r["qid"], r["cid"]) for r in
               similarity.ivf_topk(q, c, "vec_id", "vec_id", "embedding", k=3,
                                   n_cells=8, nprobe=nprobe, centroids=cent).collect()}
        recalls.append(len(got & truth) / len(truth))
    assert recalls[0] <= recalls[1] <= recalls[2]
    assert recalls[2] == 1.0


def test_ivf_kmeans_centroids_recall(spark):
    """The KMeans-refined quantizer is the production path: it must at
    least run end-to-end through the same assignment/probe machinery
    and reach reasonable recall at nprobe=2 of 8 cells."""
    from etl_wrap_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", ["embeddings"])
    e = t["embeddings"]
    q = e.where(F.col("vec_id") % 50 == 0)
    c = e.where(F.col("vec_id") % 50 != 0)
    truth = {(r["qid"], r["cid"]) for r in
             similarity.brute_force_topk(q, c, "vec_id", "vec_id", "embedding", k=3, baseline=True).collect()}
    cent = similarity.ivf_centroids_kmeans(c, "embedding", 8)
    got = {(r["qid"], r["cid"]) for r in
           similarity.ivf_topk(q, c, "vec_id", "vec_id", "embedding", k=3,
                               n_cells=8, nprobe=2, centroids=cent).collect()}
    assert len(got & truth) / len(truth) >= 0.5


def test_gopher_repetition_signals(spark):
    rows = [
        (1, "alpha beta\nalpha beta\nalpha beta\ngamma delta"),      # 2 dup lines of 4
        (2, "- first\n- second\n- third"),                            # all bullets
        (3, "read more...\nsee details...\nplain line"),              # 2/3 ellipsis
        (4, "## header ## with ### marks and more...\nbody text here"),
        (5, "clean prose line one\nclean prose line two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            text.dup_line_fraction_bp("body").alias("dup"),
            text.bullet_line_fraction_bp("body").alias("bullet"),
            text.ellipsis_line_fraction_bp("body").alias("ell"),
            text.symbol_ratio_bp("body").alias("sym"),
            text.gopher_flags("body").alias("flags"),
        ).collect()
    }
    assert got[1]["dup"] == 5000  # 4 lines, 2 distinct
    assert got[2]["bullet"] == 10000
    assert got[3]["ell"] == 6666
    assert got[4]["sym"] > 0
    assert got[5]["dup"] == 0 and got[5]["flags"] == ""
    assert "repetitive_lines" in got[1]["flags"]
    assert "bullet_heavy" in got[2]["flags"]
    assert "ellipsis_heavy" in got[3]["flags"]


def test_top_ngram_coverage_argmax_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "x y x y x y z"), (2, "a b c d")], ["doc_id", "body"]
    )
    got = {r["doc_id"]: r for r in text.top_ngram_coverage(df, "doc_id", "body", n=2).collect()}
    # "x y" appears 3 times in 7 tokens -> floor(10000*3*2/7) = 8571
    assert got[1]["top_ngram"] == "x y" and got[1]["reps"] == 3
    assert got[1]["coverage_bp"] == 8571
    # all bigrams tie at 1 -> lexicographically smallest wins
    assert got[2]["top_ngram"] == "a b" and got[2]["reps"] == 1


def test_bpe_token_count_splits(spark):
    rows = [
        (1, "hello world"),            # 2 pieces
        (2, "it's 2024, folks!"),      # it + 's + " 2024" + "," + " folks" + "!"
        (3, "   "),                    # whitespace only -> 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", text.bpe_token_count("body").alias("n")).collect()}
    assert got[1] == 2
    assert got[2] == 6
    assert got[3] == 0


def test_semantic_dedup_keep_first(spark):
    # vectors 1 and 2 identical (cos=1), 3 near-orthogonal: keep 1, drop 2
    base = [1.0] + [0.0] * 63
    other = [0.0, 1.0] + [0.0] * 62
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], ["vec_id", "embedding"]
    )
    got = {r["vec_id"]: r["keep"] for r in
           similarity.semantic_dedup(df, "vec_id", "embedding", n_cells=2).collect()}
    assert got[1] is True and got[3] is True
    assert got[2] is False


def test_incremental_dedup_against_signature_index(spark, docs, tmp_path):
    # standing corpus: docs 1-4 indexed as signatures on disk
    corpus = docs.where("doc_id <= 4")
    idx_path = str(tmp_path / "sig_index")
    dedup.signature_index(corpus, "doc_id", "text").write.parquet(idx_path)
    # arriving batch: doc 9 = near-dup of 1, doc 10 = novel
    batch = spark.createDataFrame(
        [
            (9, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (10, "entirely novel content that matches nothing in the standing corpus"),
        ],
        ["doc_id", "text"],
    )
    bsig = dedup.signature_index(batch, "doc_id", "text")
    isig = spark.read.parquet(idx_path)
    hits = dedup.incremental_near_dups(bsig, isig, "doc_id").collect()
    by_new = {}
    for r in hits:
        by_new.setdefault(r["id_new"], []).append(r)
    # doc 9 is an exact dup of docs 1 and 4 -> est J = 10000 (all hashes agree)
    nine = {r["id_idx"]: r["est_j_bp"] for r in by_new[9]}
    assert nine[1] == 10000 and nine[4] == 10000
    assert 2 in nine and nine[2] >= 5000  # one-token edit still estimates high
    assert 10 not in by_new  # novel doc collides with nothing
    # appending the batch to the index makes the next round see doc 9
    bsig.write.mode("append").parquet(idx_path)
    assert spark.read.parquet(idx_path).count() == 6


def test_select_canonicals_quality_over_id(spark):
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], ["doc_id", "component"]
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (7, 0.5), (9, 0.1)], ["doc_id", "score"]
    )
    got = {r["doc_id"]: r["keep"] for r in dedup.select_canonicals(comps, scores).collect()}
    # component 1: docs 2 and 3 tie at 0.9 -> lowest id (2) wins, not doc 1
    assert got == {1: False, 2: True, 3: False, 7: True, 9: False}


def test_curate_end_to_end(spark):
    from etl_wrap_spark import pipelines

    rows = [
        # survivors: long enough, diverse, stopworded
        (1, "the river runs through a green valley and the light is soft in the morning hours here today for all of us to see and enjoy quietly"),
        (2, "a completely different story about markets and the price of grain in the old town where traders argue and settle for less than they hoped"),
        # exact dup of 1 -> dropped, kept_id=1
        (3, "the river runs through a green valley and the light is soft in the morning hours here today for all of us to see and enjoy quietly"),
        # near dup of 2 (one-word edit) -> near-dup drop
        (4, "a completely different story about markets and the price of grain in the old town where traders argue and settle for more than they hoped"),
        # too short -> quality quarantine
        (5, "too short"),
        # PII carrier, otherwise fine
        (6, "contact the clerk at ledger@example.com for the archive of the town records and the list of all the names that were entered in it last year"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pipelines.curate(docs)
    clean_ids = {r["doc_id"] for r in out["clean"].collect()}
    assert 5 not in clean_ids
    assert {r["doc_id"] for r in out["quarantine_quality"].collect()} == {5}
    exact = {(r["doc_id"], r["kept_id"]) for r in out["drops_exact"].collect()}
    assert exact == {(3, 1)}
    near = {(r["doc_id"], r["kept_id"]) for r in out["drops_neardup"].collect()}
    assert near == {(4, 2)}
    clean = {r["doc_id"]: r for r in out["clean"].collect()}
    assert set(clean) == {1, 2, 6}
    assert "[EMAIL]" in clean[6]["text"] and "ledger@example.com" not in clean[6]["text"]
    assert all(r["bpe_tokens"] > 0 and r["split"] in ("train", "val", "test") for r in clean.values())
    # determinism: a rerun is byte-identical
    again = {r["doc_id"]: r for r in pipelines.curate(docs)["clean"].collect()}
    assert again == clean


def test_drop_repeated_segments(spark):
    """Boilerplate lines (shared by >= min_docs docs) are stripped; unique
    lines survive in order; fully-boilerplate docs vanish (CCNet rule)."""
    rows = [
        (1, "COOKIE BANNER\nalpha beta\nNAV MENU\ngamma"),
        (2, "COOKIE BANNER\ndelta\nNAV MENU"),
        (3, "COOKIE BANNER\nNAV MENU"),  # all boilerplate -> dropped
        (4, "epsilon zeta\neta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.drop_repeated_segments(df, "doc_id", "text").collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["text"] == "alpha beta\ngamma"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 2)
    assert out[2]["text"] == "delta"
    assert out[4]["text"] == "epsilon zeta\neta"
    assert out[4]["n_dropped"] == 0


def test_drop_repeated_segments_min_docs_threshold(spark):
    """min_docs=3: a line in only 2 docs survives."""
    rows = [(1, "shared\nuniq1"), (2, "shared\nuniq2"), (3, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.drop_repeated_segments(df, "doc_id", "text", min_docs=3).collect()
    }
    assert out == {1: "shared\nuniq1", 2: "shared\nuniq2", 3: "solo"}


def _embeddings(spark):
    from etl_wrap_spark.session import load_tables

    e = load_tables(spark, "/root/testdata/sf0.01", ["embeddings"])["embeddings"]
    q = e.where(F.col("vec_id") % 50 == 0)
    c = e.where(F.col("vec_id") % 50 != 0)
    return q, c


def test_ivfpq_refine_reproduces_plain_ivf(spark):
    """With refine >= candidate count, ADC is only a pre-ranking: the
    exact re-rank must reproduce plain IVF's top-k exactly (identical
    probed-cell candidate sets + identical exact-cosine ordering)."""
    from etl_wrap_spark.operators import similarity as sim

    q, c = _embeddings(spark)
    cent = sim.ivf_centroids_deterministic(c, "vec_id", "embedding", 8)
    ivf = {
        (r["qid"], r["rank"], r["cid"])
        for r in sim.ivf_topk(
            q, c, "vec_id", "vec_id", "embedding", k=3, nprobe=2, centroids=cent
        ).collect()
    }
    pq = {
        (r["qid"], r["rank"], r["cid"])
        for r in sim.ivfpq_topk(
            q, c, "vec_id", "vec_id", "embedding", k=3, nprobe=2,
            refine=10**6, centroids=cent,
        ).collect()
    }
    assert pq == ivf


def test_ivfpq_code_shape_and_recall_floor(spark):
    """Every corpus row gets exactly M codes with j in [1, Ks]; ADC-only
    recall clears a floor and exact refine only improves it."""
    from etl_wrap_spark.operators import similarity as sim

    q, c = _embeddings(spark)
    cent = sim.ivf_centroids_deterministic(c, "vec_id", "embedding", 8)
    res = sim.pq_residual_frame(c, "vec_id", "embedding", cent)
    cb = sim.pq_codebooks_deterministic(res, "vec_id")
    codes = sim.pq_encode(res, "vec_id", cb)
    n_corpus = c.count()
    assert codes.count() == n_corpus * sim.PQ_M
    bad = codes.where((F.col("j") < 1) | (F.col("j") > sim.PQ_KS)).count()
    assert bad == 0

    exact = {
        (r["qid"], r["cid"])
        for r in sim.brute_force_topk(q, c, "vec_id", "vec_id", "embedding", k=3, baseline=True).collect()
    }
    adc = {
        (r["qid"], r["cid"])
        for r in sim.ivfpq_topk(
            q, c, "vec_id", "vec_id", "embedding", k=3, nprobe=2, centroids=cent,
            refine=None,
        ).collect()
    }
    ref = {
        (r["qid"], r["cid"])
        for r in sim.ivfpq_topk(
            q, c, "vec_id", "vec_id", "embedding", k=3, nprobe=2, centroids=cent, refine=20
        ).collect()
    }
    # DEFAULT path = refine="auto": sized from probed candidate volume,
    # so recall without any caller-supplied refine clears the explicit
    # re-rank's floor (the round-4 VERDICT #6 opt-out rule)
    auto = {
        (r["qid"], r["cid"])
        for r in sim.ivfpq_topk(
            q, c, "vec_id", "vec_id", "embedding", k=3, nprobe=2, centroids=cent
        ).collect()
    }
    r_adc = len(adc & exact) / len(exact)
    r_ref = len(ref & exact) / len(exact)
    r_auto = len(auto & exact) / len(exact)
    assert r_adc >= 0.1  # random-ish synthetic embeddings quantize poorly
    assert r_ref >= r_adc
    assert r_auto >= r_ref  # auto sizes refine >= the hand-picked 20 here


def test_mixture_sample_exact_proportions(spark):
    from etl_wrap_spark.operators.sampling import mixture_sample
    from etl_wrap_spark.session import load_tables

    d = load_tables(spark, "/root/testdata/sf0.01", ["documents"])["documents"]
    out = mixture_sample(
        d, "lang", "doc_id", {"en": 4000, "de": 2000, "es": 2000, "fr": 1000, "zh": 1000}
    )
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n = sum(got.values())
    # proportions exact in basis points; scarcest group (de: 70 avail) binding
    assert got == {"en": n * 2 // 5, "de": n // 5, "es": n // 5, "fr": n // 10, "zh": n // 10}
    assert got["de"] == 70  # the binding constraint is fully consumed
    # determinism: same membership on a rerun
    again = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == again


def test_mixture_sample_rejects_bad_weights(spark):
    from etl_wrap_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame([(1, "a")], ["id", "g"])
    with pytest.raises(ValueError):
        mixture_sample(df, "g", "id", {"a": 5000})


def test_shard_balanced_skew_and_rank_equivalence(spark, parallelism):
    from etl_wrap_spark.operators.sampling import shard_balanced
    from etl_wrap_spark.operators.text import token_count
    from etl_wrap_spark.session import load_tables
    from pyspark.sql.window import Window as W

    d = load_tables(spark, "/root/testdata/sf0.01", ["documents"])["documents"]
    toks = d.select("doc_id", token_count("text").alias("tok"))
    with parallelism(5):
        out = shard_balanced(toks, "doc_id", "tok", n_shards=8)
    sums = {r["shard"]: r["s"] for r in out.groupBy("shard").agg(F.sum("tok").alias("s")).collect()}
    assert len(sums) == 8
    max_w = toks.agg(F.max("tok")).first()[0]
    assert max(sums.values()) - min(sums.values()) <= max_w  # LPT skew bound
    # distributed rank == single-window rank
    naive = toks.withColumn(
        "shard2",
        ((F.row_number().over(W.orderBy(F.col("tok").desc(), F.col("doc_id"))) - 1) % 8).cast("int"),
    )
    diff = out.join(naive, "doc_id").where(F.col("shard") != F.col("shard2")).count()
    assert diff == 0


def test_quality_model_learns_weak_labels(spark):
    """The linear model must recover the heuristic signal it was weakly
    supervised with: held-out AUC well above chance, scores in [0,1],
    and scoring adds exactly one column."""
    from etl_wrap_spark.operators import quality_model as qm
    from etl_wrap_spark.session import load_tables

    d = load_tables(spark, "/root/testdata/sf0.01", ["documents"])["documents"]
    labeled = qm.weak_labels(d)
    pos = labeled.where(F.col("label") == 1.0).count()
    assert 0 < pos < labeled.count()  # both classes present

    train = labeled.where(F.col("doc_id") % 5 != 0)
    test = labeled.where(F.col("doc_id") % 5 == 0)
    model = qm.train_quality_model(train)
    scored = qm.score_quality(test, model)
    assert set(scored.columns) == set(test.columns) | {"quality_score"}

    rows = scored.select("label", "quality_score").collect()
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    # rank-based AUC
    ranked = sorted(rows, key=lambda r: r["quality_score"])
    n_pos = sum(1 for r in rows if r["label"] == 1.0)
    n_neg = len(rows) - n_pos
    rank_sum = sum(i + 1 for i, r in enumerate(ranked) if r["label"] == 1.0)
    auc = (rank_sum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert auc > 0.8, f"AUC {auc:.3f}"


def test_curate_with_learned_filter(spark):
    """curate(quality_model=...) adds a model-quarantine frame; clean +
    quarantine_model partition the no-model clean set."""
    from etl_wrap_spark import pipelines
    from etl_wrap_spark.operators import quality_model as qm
    from etl_wrap_spark.session import load_tables

    d = load_tables(spark, "/root/testdata/sf0.01", ["documents"])["documents"]
    model = qm.train_quality_model(qm.weak_labels(d))
    base = pipelines.curate(d)
    out = pipelines.curate(d, quality_model=model, min_quality=0.5)
    base_ids = {r["doc_id"] for r in base["clean"].select("doc_id").collect()}
    kept = {r["doc_id"] for r in out["clean"].select("doc_id").collect()}
    dropped = {r["doc_id"] for r in out["quarantine_model"].select("doc_id").collect()}
    assert kept | dropped == base_ids
    assert kept.isdisjoint(dropped)
    scores = out["quarantine_model"].select("quality_score").collect()
    assert all(r["quality_score"] < 0.5 for r in scores)


def test_tfidf_top_terms(spark):
    """Exact-integer tf-idf ranking: rare terms outrank common ones at
    equal tf; ties break lexicographically; score is tf*1e6 div df."""
    from etl_wrap_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common common common"),
            (2, "banana cherry common common"),
            (3, "cherry common durian durian"),
        ],
        ["doc_id", "text"],
    )
    out = T.tfidf_top_terms(df, "doc_id", "text", top_k=2)
    rows = {(r["doc_id"], r["term"]): r for r in out.collect()}
    # doc 1: apple tf=2 df=1 -> 2_000_000; common tf=3 df=3 -> 1_000_000
    assert rows[(1, "apple")]["score_bp"] == 2_000_000
    assert rows[(1, "common")]["score_bp"] == 1_000_000
    assert (1, "banana") not in rows  # banana 500_000 < common
    # doc 3: durian tf=2 df=1 -> 2_000_000 top; cherry 500_000 vs common
    # 333_333: cherry second
    assert rows[(3, "durian")]["score_bp"] == 2_000_000
    assert rows[(3, "cherry")]["score_bp"] == 500_000
    assert all(len(g) == 2 for g in [[k for k in rows if k[0] == d] for d in (1, 2, 3)])


def test_bigram_collocations(spark):
    """Lift = n_ab * n_tokens * 1e4 div (n_a * n_b); min_count floors
    support; bigrams never cross document boundaries."""
    from etl_wrap_spark.operators import text as T

    df = spark.createDataFrame(
        [(i, "strong coffee fills mugs") for i in range(5)]
        + [(100 + i, "strong tea fills cups") for i in range(5)],
        ["doc_id", "text"],
    )
    out = {(r["a"], r["b"]): r for r in T.bigram_collocations(df, "text", min_count=5).collect()}
    # 40 tokens total; strong->coffee: n_ab=5, n_a=10, n_b=5
    r = out[("strong", "coffee")]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (5, 10, 5)
    assert r["lift_bp"] == 5 * 40 * 10000 // (10 * 5)
    # fills->mugs rarer pair, higher lift than strong->coffee? same: 5*40e4/(10*5)
    assert ("coffee", "fills") in out and ("mugs", "strong") not in out


def test_auto_n_cells_bounds_within_cell_pairs(spark):
    # The n_cells=None policy derives ceil(N/rows_per_cell) cells, so the
    # within-cell pair count (what semantic_dedup/IVF actually generate)
    # grows LINEARLY with corpus size instead of quadratically. Grow the
    # corpus 8x and assert pair growth stays ~linear (<= 16x, far below
    # the 64x a fixed cell count would give).
    import numpy as np

    def corpus(n):
        rng = np.random.RandomState(7)
        rows = [(i, [float(x) for x in rng.rand(64)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def within_cell_pairs(df, n):
        n_cells = similarity.auto_n_cells(df, rows_per_cell=64)
        assert n_cells == -(-n // 64)
        cent = similarity.ivf_centroids_deterministic(df, "vec_id", "embedding", n_cells)
        assigned = similarity.ivf_assign(df, "vec_id", "embedding", cent)
        sizes = [r["sz"] for r in assigned.groupBy("cell").count()
                 .withColumnRenamed("count", "sz").collect()]
        return sum(s * (s - 1) // 2 for s in sizes)

    small = within_cell_pairs(corpus(128), 128)
    big = within_cell_pairs(corpus(1024), 1024)
    assert small > 0
    assert big <= 16 * small  # linear-ish; a fixed n_cells would be ~64x


def test_semantic_dedup_auto_cells_matches_explicit(spark):
    # n_cells=None must produce the same keep/drop decisions as passing
    # the derived count explicitly (the default is policy, not behavior).
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.rand(64)]) for i in range(40)]
    rows.append((100, rows[0][1]))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto = {r["vec_id"]: r["keep"] for r in
            similarity.semantic_dedup(df, "vec_id", "embedding").collect()}
    explicit = {r["vec_id"]: r["keep"] for r in
                similarity.semantic_dedup(
                    df, "vec_id", "embedding",
                    n_cells=similarity.auto_n_cells(df)).collect()}
    assert auto == explicit
    assert auto[100] is False and auto[0] is True


def test_strip_markup_and_entities(spark):
    df = spark.createDataFrame(
        [(1, '<div class="x">Hello <b>world</b> &amp; &lt;friends&gt;</div>'),
         (2, 'no markup here'),
         (3, '<p>line one</p><p>line two</p>')],
        ["doc_id", "raw"],
    )
    got = {r["doc_id"]: (r["clean"], r["tags"]) for r in df.select(
        "doc_id",
        text.strip_markup("raw").alias("clean"),
        text.markup_tag_count("raw").alias("tags"),
    ).collect()}
    assert got[1] == ("Hello world & <friends>", 4)
    assert got[2] == ("no markup here", 0)
    assert got[3] == ("line one line two", 4)


def test_mojibake_repair_and_hits(spark):
    garbled = "GrÃ¶ÃŸe Ã¤ndern â€“ itâ€™s â€œfineâ€œ"
    expected = "Größe ändern – it’s “fine“"
    df = spark.createDataFrame([(1, garbled), (2, "clean text")], ["doc_id", "s"])
    got = {r["doc_id"]: (r["fixed"], r["hits"]) for r in df.select(
        "doc_id",
        text.repair_mojibake("s").alias("fixed"),
        text.mojibake_hits("s").alias("hits"),
    ).collect()}
    assert got[1][0] == expected
    assert got[1][1] == 7  # ö ß ä – ’ + two “
    assert got[2] == ("clean text", 0)


def test_misra_gries_sketch_guarantees(spark):
    # Planted distribution: item "hot{i}" appears 100*(5-i) times,
    # 400 singletons as noise. N = 1500+400+...; k=8 counters.
    rows = []
    for i in range(5):
        rows += [(f"hot{i}",)] * (100 * (5 - i))
    rows += [(f"noise{j}",) for j in range(400)]
    df = spark.createDataFrame(rows, ["term"]).repartition(8)
    from etl_wrap_spark.operators import frequent

    exact = {r["item"]: r["n"] for r in frequent.frequent_items(df, "term", k=10).collect()}
    n_total = len(rows)
    k = 8
    sketch = dict(frequent.frequent_items_sketch(df, "term", k=k))
    # guarantee 1: every item with true count > N/(k+1) is present
    for item, cnt in exact.items():
        if cnt > n_total / (k + 1):
            assert item in sketch, f"{item} (count {cnt}) missing from sketch"
    # guarantee 2: reported counts are lower bounds within N/k of truth
    for item, est in sketch.items():
        true = exact.get(item, rows.count((item,)))
        assert est <= true
        assert true - est <= n_total / k + len(sketch)  # partition-merge slack
    # exact top-k is deterministic and correctly ordered
    top = frequent.frequent_items(df, "term", k=3).collect()
    assert [r["item"] for r in top] == ["hot0", "hot1", "hot2"]


def test_curate_with_web_cleanup_stages(spark):
    """clean_markup/fix_encoding run BEFORE the quality gate: a doc that
    is only quality-rejected because of markup debris survives once the
    cleanup stage is on."""
    from etl_wrap_spark import pipelines

    body = ("the quick brown fox jumps over the lazy dog and runs to the river "
            "bank it was a fine day for everyone in the village to see it happen")
    # the '...' inside the hrefs trips the symbol-ratio gopher rule on the
    # RAW text; stripping removes the tags (and the symbols with them)
    noisy = ("<a href='...'> " * 8) + body.replace("fox", "fÃ¶x") + (" <img src='...'>" * 8)
    docs = spark.createDataFrame([(1, noisy), (2, body + " again and again")],
                                 ["doc_id", "text"])
    dirty = pipelines.curate(docs)
    cleaned = pipelines.curate(docs, clean_markup=True, fix_encoding=True)
    dirty_ids = {r["doc_id"] for r in dirty["clean"].collect()}
    clean_ids = {r["doc_id"] for r in cleaned["clean"].collect()}
    assert 1 not in dirty_ids          # symbol-heavy markup fails gopher rules
    assert 1 in clean_ids              # survives after strip+repair
    got = {r["doc_id"]: r["text"] for r in cleaned["clean"].collect()}
    assert "föx" in got[1] and "<" not in got[1] and "..." not in got[1]


def test_est_prefilter_preserves_results(spark, docs):
    # with a wide margin the estimate gate must pass every band candidate
    # that exact verify would keep — results identical to no prefilter
    base = {(r["id_a"], r["id_b"]) for r in dedup.near_dup_pairs_minhash(
        docs, "doc_id", "text", n=3, num=2, den=1).collect()}
    pre = {(r["id_a"], r["id_b"]) for r in dedup.near_dup_pairs_minhash(
        docs, "doc_id", "text", n=3, num=2, den=1,
        est_prefilter_margin_bp=2500).collect()}
    assert pre == base and len(base) >= 3


def test_estimate_pairs_brackets_true_jaccard(spark, docs):
    sig = dedup.signature_index(docs, "doc_id", "text")
    pairs = spark.createDataFrame([(1, 4), (1, 2), (1, 3)], "id_a long, id_b long")
    est = {(r["id_a"], r["id_b"]): r["est_j_bp"] for r in
           dedup.estimate_pairs(sig, pairs, "doc_id").collect()}
    assert est[(1, 4)] == 10000       # identical docs: all hashes match
    assert est[(1, 2)] >= 5000        # 1-token edit: high estimate
    assert est[(1, 3)] <= 3000        # unrelated: low estimate


def test_consistent_cap_restores_common_shingle_pairs(spark):
    """A near-dup pair whose shared shingles are df-capped: default cap
    (sizes from FULL sets) biases J below the cut; consistent_cap
    computes both sides over the capped subspace and keeps the pair."""
    # docs 1-4 make every 'common'-prefix shingle exceed the cap (df=6);
    # docs 5,6 are near-dups whose shared shingles are mostly those
    # capped common ones plus a few surviving rare-tail shingles
    common = "alpha beta gamma delta epsilon zeta eta theta"
    df2 = spark.createDataFrame(
        [(1, common), (2, common), (3, common), (4, common),
         (5, common + " rare tail shared"), (6, common + " rare tail shared")],
        ["doc_id", "text"],
    )
    inc = {(r["id_a"], r["id_b"]) for r in
           dedup.exact_jaccard_pairs(df2, "doc_id", "text", n=3, max_df=4)
           .where(2 * F.col("inter") >= F.col("uni")).collect()}
    con = {(r["id_a"], r["id_b"]) for r in
           dedup.exact_jaccard_pairs(df2, "doc_id", "text", n=3, max_df=4,
                                     consistent_cap=True)
           .where(2 * F.col("inter") >= F.col("uni")).collect()}
    assert (5, 6) not in inc   # 3 surviving shared shingles vs 11 full-size union
    assert (5, 6) in con       # all surviving shingles shared → J_subspace = 1


def test_linear_attribution_split_semantics(spark):
    from etl_wrap_spark.operators.events_analytics import linear_attribution

    rows = [
        # user 1: two in-window clicks then a 10.0 purchase
        (1, "click", "2024-01-01 09:00:00", "0"),
        (1, "click", "2024-01-01 10:00:00", "0"),
        (1, "purchase", "2024-01-01 11:00:00", "10.0"),
        # user 2: click outside the 6h lookback → conversion unattributed
        (2, "click", "2024-01-01 01:00:00", "0"),
        (2, "purchase", "2024-01-01 12:00:00", "8.0"),
        # user 3: purchase with no clicks at all
        (3, "purchase", "2024-01-01 12:00:00", "5.0"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "value"]).select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    got = linear_attribution(df).collect()
    assert {r["user_id"] for r in got} == {1}
    assert all(r["n_touches"] == 2 and r["attributed_bp"] == 50000 for r in got)
    assert len(got) == 2  # one row per touchpoint


def _png(w, h):
    import struct, zlib
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF))


def _gif(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 6


def _bmp(w, h):
    import struct
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 10


def _jpeg(w, h):
    import struct
    # SOI + APP0 stub + SOF0 with height/width
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x00\x11\x00"
    return b"\xff\xd8" + app0 + sof


def test_image_dimensions_pure_stdlib():
    assert multimodal.image_dimensions(_png(640, 480)) == ("png", 640, 480)
    assert multimodal.image_dimensions(_gif(13, 37)) == ("gif", 13, 37)
    assert multimodal.image_dimensions(_bmp(800, -600)) == ("bmp", 800, 600)
    assert multimodal.image_dimensions(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert multimodal.image_dimensions(b"not an image") is None
    assert multimodal.image_dimensions(b"\x89PNG\r\n\x1a\n tru") is None  # truncated


def test_with_image_meta_distributed(spark):
    rows = [
        (1, _png(64, 32)), (2, _gif(5, 9)), (3, _jpeg(300, 200)),
        (4, b"garbage bytes"),
    ]
    df = spark.createDataFrame(rows, "id LONG, blob BINARY")
    media = multimodal.media_frame_from_binary(df, "id", "blob", "image")
    out = {r.media_id: r for r in multimodal.with_image_meta(media).collect()}
    assert (out[1].format, out[1].width, out[1].height) == ("png", 64, 32)
    assert (out[2].format, out[2].width, out[2].height) == ("gif", 5, 9)
    assert (out[3].format, out[3].width, out[3].height) == ("jpeg", 300, 200)
    assert out[4].format is None and out[4].width is None
    # metadata columns from the plan side still ride along
    assert out[1].content_length == len(_png(64, 32))


def _wav(n_samples=1600, rate=16000, channels=1, width=2):
    import io, wave, struct
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(channels); w.setsampwidth(width); w.setframerate(rate)
    w.writeframes(b"".join(struct.pack("<h", (i * 7) % 32000 - 16000)
                           for i in range(n_samples * channels)))
    w.close()
    return buf.getvalue()


def test_wav_meta_pure_stdlib():
    blob = _wav(1600, 16000, 1, 2)
    m = multimodal.wav_meta(blob)
    assert m["channels"] == 1 and m["sample_rate"] == 16000
    assert m["bits_per_sample"] == 16 and m["n_samples"] == 1600
    assert multimodal.wav_meta(b"RIFFxxxxNOPE") is None
    assert multimodal.wav_meta(b"not audio at all") is None


def test_pcm_frames_jvm_side_slicing(spark):
    import struct
    blob = _wav(1600, 16000, 1, 2)  # 100 ms of mono 16 kHz
    df = spark.createDataFrame([(1, blob), (2, b"garbage")], "id LONG, blob BINARY")
    media = multimodal.media_frame_from_binary(df, "id", "blob", "audio")
    meta = multimodal.with_wav_meta(media)
    frames = multimodal.pcm_frames(meta, frame_ms=25, hop_ms=10).collect()
    by_id = [r for r in frames if r.media_id == 1]
    # (1600 - 400) / 160 + 1 = 8 windows of 25 ms at 10 ms hop
    assert len(by_id) == 8 and all(r.media_id == 1 for r in frames)
    f0 = next(r for r in by_id if r.frame_idx == 0)
    assert len(f0.frame_bytes) == 400 * 2  # 400 samples x 2 bytes
    # the sliced bytes ARE the waveform: sample 0 of frame 0 == ramp(0)
    assert struct.unpack("<h", bytes(f0.frame_bytes[:2]))[0] == -16000
    f3 = next(r for r in by_id if r.frame_idx == 3)
    # frame 3 starts at sample 480: value (480*7)%32000 - 16000
    assert struct.unpack("<h", bytes(f3.frame_bytes[:2]))[0] == (480 * 7) % 32000 - 16000
    assert abs(f3.t_seconds - 0.03) < 1e-9


def test_ivf_assign_blas_equals_expression_path(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    rows = []
    for i in range(400):
        c = i % 6
        base = np.zeros(64); base[c * 10] = 4.0  # well-separated clusters
        v = base + 0.2 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cent = similarity.ivf_centroids_deterministic(df, "vec_id", "embedding", 6)
    expr = {r.vec_id: r.cell for r in similarity.ivf_assign(df, "vec_id", "embedding", cent).collect()}
    blas = {r.vec_id: r.cell for r in similarity.ivf_assign_blas(df, "vec_id", "embedding", cent).collect()}
    assert expr == blas
    # norms match too (ADC and cosine depend on them)
    nb = {r.vec_id: r["__n"] for r in similarity.ivf_assign_blas(df, "vec_id", "embedding", cent).collect()}
    ne = {r.vec_id: r["__n"] for r in similarity.ivf_assign(df, "vec_id", "embedding", cent).collect()}
    for k in ne:
        assert abs(ne[k] - nb[k]) < 1e-9


def test_ivf_assign_lit_equals_distributed(spark, distributed):
    """Round-12 driver-held-centroid fast path: the map-only literal
    assignment must be BIT-identical to the distributed crossJoin+groupBy
    path (same fold order, same (aff, -cell) tie-break), and the gate
    must refuse malformed centroid frames and a driver without
    headroom."""
    import struct as st

    import numpy as np

    rng = np.random.RandomState(12)
    rows = []
    for i in range(300):
        c = i % 5
        base = np.zeros(64)
        base[c * 12] = 3.0
        v = base + 0.3 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cent = similarity.ivf_centroids_deterministic(df, "vec_id", "embedding", 5)
    cr = similarity._centroid_rows(cent, 5)
    assert cr is not None and [c for c, _, _ in cr] == [1, 2, 3, 4, 5]
    dist = {
        r.vec_id: (r.cell, st.pack("d", r["__n"]), tuple(r["__v"]))
        for r in similarity.ivf_assign(df, "vec_id", "embedding", cent).collect()
    }
    lit = {
        r.vec_id: (r.cell, st.pack("d", r["__n"]), tuple(r["__v"]))
        for r in similarity.ivf_assign_lit(df, "vec_id", "embedding", cr).collect()
    }
    assert dist == lit
    # gate closes: unknown/large cell count, non-contiguous cells
    assert similarity._centroid_rows(cent, None) is None
    assert similarity._centroid_rows(cent, similarity.IVF_DRIVER_CENT_LIMIT + 1) is None
    from pyspark.sql import functions as F

    gappy = cent.where(F.col("cell") != 3)
    assert similarity._centroid_rows(gappy, 5) is None
    # the literal collects through the one driver gate, headroom included
    with distributed():
        assert similarity._centroid_rows(cent, 5) is None


def test_ivfpq_topk_lit_equals_distributed(spark, distributed):
    """The full IVF-PQ cascade (residual -> codebook -> encode -> LUT ->
    ADC rank) must return identical rows with the literal fast path on
    and off — including the codebook grid collected for the encode."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(64)], i % 3)
        for i in range(260)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")
    q = df.where("vec_id % 40 = 0")
    c = df.where("vec_id % 40 != 0")

    def run():
        return [
            (r["qid"], r["rank"], r["cid"])
            for r in similarity.ivfpq_topk(
                q, c, "vec_id", "vec_id", "embedding",
                k=3, n_cells=4, nprobe=2, m=4, ks=8, refine=None,
            ).orderBy("qid", "rank").collect()
        ]

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow and len(fast) > 0


def test_ivf_probe_selection_null_affinity_parity(spark, distributed):
    """NULL affinities sort last in the literal probe selection, as in
    the distributed window (aff DESC NULLS LAST, cell ASC). A short
    centroid gives NULL affinity against full-length queries; a NULL or
    short query embedding gives NULL against full-length centroids.
    k covers every candidate, so the result set is the probed cells'."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 8
    cent = spark.createDataFrame(
        [(1, [1.0, 0.5])]
        + [(c, [float(x) for x in rng.standard_normal(dim)]) for c in range(2, 6)],
        "cell INT, kv ARRAY<FLOAT>",
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(100, 160)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    queries = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(1, 5)]
        + [(5, None), (6, [0.3, -0.7])],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )

    def run():
        return [
            (r["qid"], r["rank"], r["cid"])
            for r in similarity.ivf_topk(
                queries, corpus, "vec_id", "vec_id", "embedding",
                k=100, n_cells=5, nprobe=2, centroids=cent,
            ).orderBy("qid", "rank").collect()
        ]

    fast = run()
    with distributed():
        slow = run()
    assert fast == slow
    assert {qid for qid, _, _ in fast} == set(range(1, 7))


def test_misra_gries_sketch_df_grouped_distributed(spark):
    """Grouped distributed MG: per-group guarantee with no driver-side
    merge step (frequent_items_sketch_df returns a DataFrame whose plan
    never collects)."""
    from etl_wrap_spark.operators import frequent

    rows = []
    for grp, scale in (("a", 40), ("b", 15)):
        for i in range(4):
            rows += [(grp, f"{grp}_hot{i}")] * (scale * (4 - i))
        rows += [(grp, f"{grp}_noise{j}") for j in range(120)]
    df = spark.createDataFrame(rows, ["grp", "term"]).repartition(8)

    k = 6
    out = frequent.frequent_items_sketch_df(df, "term", k=k, group_by=["grp"])
    assert set(out.columns) == {"grp", "term", "cnt_lb"} or set(out.columns) == {"grp", "item", "cnt_lb"}
    got = {}
    for r in out.collect():
        got.setdefault(r["grp"], {})[r["item"]] = r["cnt_lb"]

    for grp in ("a", "b"):
        grp_rows = [t for g, t in rows if g == grp]
        n = len(grp_rows)
        exact = {t: grp_rows.count(t) for t in set(grp_rows)}
        sketch = got.get(grp, {})
        # ≤ k counters per group survive the shrink
        assert len(sketch) <= k
        # items above the merged-MG threshold are guaranteed present
        for item, cnt in exact.items():
            if cnt > n / k:
                assert item in sketch, f"{grp}:{item} ({cnt} > {n/k:.0f}) missing"
        # counts are lower bounds
        for item, est in sketch.items():
            assert est <= exact[item]

    # ungrouped DF form agrees with the list form
    lst = frequent.frequent_items_sketch(df, "term", k=k)
    df_form = frequent.frequent_items_sketch_df(df, "term", k=k)
    assert sorted(lst) == sorted((r["item"], r["cnt_lb"]) for r in df_form.collect())


def test_mg_merge_shrink_decrement_regime(spark):
    """mg_merge_shrink (q221's operator): exact per-shard partials
    merged at k < distinct items — the shrink (MG decrement in merged
    form, Agarwal et al.) must provably fire (n_seen > Σ cnt_lb),
    reproduce the Python reference bit-for-bit, and keep the classic
    guarantee (true count > N/(k+1) ⇒ present; undercount ≤ cut)."""
    from etl_wrap_spark.operators import frequent

    rows = []
    for grp, scale in (("a", 30), ("b", 12)):
        for i in range(5):
            rows += [(grp, i % 3, f"{grp}_hot{i}")] * (scale * (5 - i))
        rows += [(grp, j % 3, f"{grp}_n{j}") for j in range(40)]
    df = spark.createDataFrame(rows, ["grp", "shard", "item"]).repartition(8)
    partials = df.groupBy("grp", "shard", "item").agg(
        F.count(F.lit(1)).alias("cnt_lb")
    )
    k = 4
    out = frequent.mg_merge_shrink(partials, k=k, group_by=["grp"])
    got = {}
    for r in out.collect():
        got.setdefault(r["grp"], {})[r["item"]] = r["cnt_lb"]
    for grp in ("a", "b"):
        grp_items = [t for g, _, t in rows if g == grp]
        exact = {t: grp_items.count(t) for t in set(grp_items)}
        # Python reference: sum partials == exact counts, subtract the
        # (k+1)-th largest (count desc, item asc), keep positive top-k
        ranked = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))
        cut = ranked[k][1] if len(ranked) > k else 0
        want = {t: c - cut for t, c in ranked[:k] if c - cut > 0}
        assert got.get(grp, {}) == want
        # the decrement regime genuinely executed
        assert cut > 0
        assert sum(exact.values()) > sum(want.values())


def test_duplicate_spans_planted(spark):
    """Planted exact-substring duplication: two docs share a verbatim
    20-token passage (> window 15); a third doc is clean. The shared
    passage must surface as one maximal span per doc covering exactly
    the duplicated region; the clean doc yields no spans."""
    from etl_wrap_spark.operators import dedup

    shared = " ".join(f"dup{i}" for i in range(20))
    head_a = " ".join(f"a{i}" for i in range(10))
    tail_b = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, f"{head_a} {shared}"),            # span at tokens 11..30
        (2, f"{shared} {tail_b}"),            # span at tokens 1..20
        (3, " ".join(f"c{i}" for i in range(40))),  # clean
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in dedup.duplicate_spans(df, "doc_id", "text", window=15).collect()
    }
    assert spans[1] == (11, 30, 20)
    assert spans[2] == (1, 20, 20)
    assert 3 not in spans

    cleaned = {
        r["doc_id"]: r["clean_text"]
        for r in dedup.remove_duplicate_spans(
            df, dedup.duplicate_spans(df, "doc_id", "text", window=15), "doc_id", "text"
        ).collect()
    }
    assert cleaned[1] == head_a
    assert cleaned[2] == tail_b
    assert cleaned[3] == rows[2][1]  # passthrough, verbatim


def test_duplicate_spans_within_doc_repeat(spark):
    """A document repeating its own 16-token block twice is self-dup:
    both copies are covered (min_count counts occurrences, not docs)."""
    from etl_wrap_spark.operators import dedup

    block = " ".join(f"x{i}" for i in range(16))
    mid = " ".join(f"m{i}" for i in range(5))
    df = spark.createDataFrame([(1, f"{block} {mid} {block}")], ["doc_id", "text"])
    got = sorted(
        (r["span_start"], r["span_end"])
        for r in dedup.duplicate_spans(df, "doc_id", "text", window=15).collect()
    )
    assert got == [(1, 16), (22, 37)]


def test_pagerank_fixedpoint_exact(spark):
    """Hand-checkable graph: a 3-cycle plus a dangling feeder.
    Fixed-point arithmetic makes every value exactly reproducible; the
    cycle nodes end symmetric except where the feeder injects mass."""
    from etl_wrap_spark.operators.graph import pagerank_fixedpoint

    # 1->2, 2->3, 3->1 (cycle), 4->1 (feeder; nothing points at 4)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    scale = 10**12
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixedpoint(edges, iterations=2, scale=scale).collect()
    }
    # replicate in exact ints
    n = 4
    base = (scale * 15) // (100 * n)
    r = {v: scale // n for v in (1, 2, 3, 4)}
    out = {1: [2], 2: [3], 3: [1], 4: [1]}
    for _ in range(2):
        nxt = {v: base for v in r}
        for u, dsts in out.items():
            for v in dsts:
                nxt[v] += (r[u] * 85) // (100 * len(dsts))
        r = nxt
    assert got == r
    # mass only leaks (floor truncation), never inflates
    assert sum(got.values()) <= scale
    # the feeder (no in-edges) holds exactly the base mass
    assert got[4] == base


def test_weighted_systematic_sample_properties(spark, parallelism):
    """Pick probability ∝ weight: expected picks per row = w/stride;
    totals are exact (sum n_picks == total_weight // stride ± 1), heavy
    rows surface with multiplicity, zero-weight rows never picked, and
    the distributed prefix decomposition is invariant to partitioning."""
    from etl_wrap_spark.operators.sampling import weighted_systematic_sample

    rows = [(i, (i * 37) % 100) for i in range(1, 2001)]  # weights 0..99
    df = spark.createDataFrame(rows, ["id", "w"])
    stride = 500
    total_w = sum(w for _, w in rows)
    got = weighted_systematic_sample(df, "id", "w", stride=stride).collect()
    picks = {r["id"]: r["n_picks"] for r in got}
    # total picks = number of stride boundaries inside (0, total_w]
    assert sum(picks.values()) == total_w // stride
    # zero-weight rows can never cross a boundary
    assert all(dict(rows)[i] > 0 for i in picks)
    # replay sequentially in python — must match EXACTLY
    cum, expect = 0, {}
    for i, w in rows:
        n = (cum + w) // stride - cum // stride
        cum += w
        if n:
            expect[i] = n
    assert picks == expect
    # partitioning invariance: same result at a different partition count
    with parallelism(5):
        got2 = {
            r["id"]: r["n_picks"]
            for r in weighted_systematic_sample(df.repartition(7), "id", "w", stride=stride).collect()
        }
    assert got2 == expect
    # a row heavier than the stride is picked with multiplicity
    big = spark.createDataFrame([(1, 1750), (2, 10)], ["id", "w"])
    multi = {
        r["id"]: r["n_picks"]
        for r in weighted_systematic_sample(big, "id", "w", stride=500).collect()
    }
    assert multi[1] == 3


def _mini_mp4(width=640, height=360, timescale=1000, duration=2500, v1=False) -> bytes:
    """Hand-assembled minimal ISO BMFF: ftyp + moov(mvhd, trak(tkhd))."""
    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomiso2")
    if v1:
        mvhd = box(
            b"mvhd",
            bytes([1, 0, 0, 0])
            + (0).to_bytes(8, "big") * 2          # creation/modification u64
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 80,
        )
        tkhd_body = bytes([1, 0, 0, 0]) + b"\x00" * 84  # width lands at +88
    else:
        mvhd = box(
            b"mvhd",
            bytes([0, 0, 0, 0])
            + (0).to_bytes(4, "big") * 2          # creation/modification u32
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 80,
        )
        tkhd_body = bytes([0, 0, 0, 0]) + b"\x00" * 72  # width lands at +76
    tkhd_body += (width << 16).to_bytes(4, "big") + (height << 16).to_bytes(4, "big")
    trak = box(b"trak", box(b"tkhd", tkhd_body))
    moov = box(b"moov", mvhd + trak)
    return ftyp + moov + box(b"mdat", b"\x00" * 32)


def test_mp4_meta_pure_stdlib():
    from etl_wrap_spark.operators.multimodal import mp4_meta

    m = mp4_meta(_mini_mp4())
    assert m is not None
    assert (m["width"], m["height"]) == (640, 360)
    assert m["timescale"] == 1000 and m["duration"] == 2500
    assert m["duration_ms"] == 2500
    assert m["n_tracks"] == 1

    mv1 = mp4_meta(_mini_mp4(width=1920, height=1080, timescale=90000, duration=90000 * 7, v1=True))
    assert (mv1["width"], mv1["height"]) == (1920, 1080)
    assert mv1["duration_ms"] == 7000

    # fail-open on garbage / truncation / other formats
    assert mp4_meta(b"not a video") is None
    assert mp4_meta(_mini_mp4()[:20]) is None
    assert mp4_meta(b"RIFF\x00\x00\x00\x00WAVE") is None


def test_with_mp4_meta_distributed(spark):
    from etl_wrap_spark.operators import multimodal as mm

    rows = [
        (1, _mini_mp4(width=320, height=240, duration=1000)),
        (2, b"\x00garbage\x00" * 4),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    media = mm.media_frame_from_binary(df, "media_id", "content", "video")
    got = {r["media_id"]: r for r in mm.with_mp4_meta(media).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["duration_ms"]) == (320, 240, 1000)
    assert got[2]["width"] is None and got[2]["duration_ms"] is None


def test_hdr_sketch_laws(spark):
    """HDR quantile sketch: merge law (sketch(A∪B) == merge exactly),
    error bound (lower-bound representative within 2^-s relative of the
    true quantile), exactness below 2^(s+1)."""
    from etl_wrap_spark.operators import sketches as sk
    import random

    rng = random.Random(7)
    vals_a = [("g", rng.randrange(1, 1_000_000)) for _ in range(3000)]
    vals_b = [("g", rng.randrange(1, 1_000_000)) for _ in range(2000)]
    dfa = spark.createDataFrame(vals_a, ["grp", "v"])
    dfb = spark.createDataFrame(vals_b, ["grp", "v"])
    both = dfa.unionByName(dfb)

    ska = sk.hdr_sketch(dfa, ["grp"], "v")
    skb = sk.hdr_sketch(dfb, ["grp"], "v")
    merged = {
        (r["grp"], r["bucket"]): r["n"]
        for r in sk.hdr_merge(ska, skb, ["grp"]).collect()
    }
    direct = {
        (r["grp"], r["bucket"]): r["n"]
        for r in sk.hdr_sketch(both, ["grp"], "v").collect()
    }
    assert merged == direct

    allv = sorted(v for _, v in vals_a + vals_b)
    for q_bp in (5000, 9500, 9900):
        got = sk.hdr_quantile(
            sk.hdr_sketch(both, ["grp"], "v"), ["grp"], q_bp=q_bp
        ).collect()[0][1]
        rank = (len(allv) * q_bp + 9999) // 10000
        true_q = allv[rank - 1]
        assert got <= true_q  # lower bound
        assert got >= true_q * (1 - 2**-7) - 1, (q_bp, got, true_q)

    # exact region: values below 2^8 bucket to themselves
    small = spark.createDataFrame([("s", v) for v in range(1, 200)], ["grp", "v"])
    med = sk.hdr_quantile(sk.hdr_sketch(small, ["grp"], "v"), ["grp"], q_bp=5000).collect()[0][1]
    assert med == 100  # exact median of 1..199


def test_ancestor_closure_chain(spark):
    """Chain 1<-2<-...<-9 (parent = n-1): closure must hold all 36
    (node, anc) pairs with exact distances, via O(log depth) rounds."""
    from etl_wrap_spark.operators.incremental_join import ancestor_closure

    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(2, 10)], ["child", "parent"]
    )
    got = {(r["node"], r["anc"]): r["dist"] for r in ancestor_closure(edges).collect()}
    expect = {(n, a): n - a for n in range(2, 10) for a in range(1, n)}
    assert got == expect


def test_interpolate_linear_known_values(spark):
    """Hand-checkable interpolation: obs (t=0s, 10.0) and (t=100s, 20.0);
    grid every 25s → 10.0, 12.5, 15.0, 17.5, 20.0. Points outside the
    span stay NULL; a grid point ON an observation returns it exactly."""
    from etl_wrap_spark.operators.asof import interpolate_linear
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    obs = spark.createDataFrame(
        [("k", base, 10.0), ("k", base + dt.timedelta(seconds=100), 20.0)],
        ["key", "ts", "v"],
    )
    out = interpolate_linear(
        obs, "key", "ts", "v", step="25 seconds",
        start="2023-12-31 23:59:35", end="2024-01-01 00:02:05",
    )
    got = {r["ts"]: r["value_interp"] for r in out.collect()}
    span = {
        base: 10.0,
        base + dt.timedelta(seconds=25): 12.5,
        base + dt.timedelta(seconds=50): 15.0,
        base + dt.timedelta(seconds=75): 17.5,
        base + dt.timedelta(seconds=100): 20.0,
    }
    for ts, v in span.items():
        assert got[ts] == v, (ts, got[ts])
    # before first / after last observation: NULL (no extrapolation)
    assert got[base - dt.timedelta(seconds=25)] is None
    assert got[base + dt.timedelta(seconds=125)] is None


def test_bm25_search_matches_reference(spark):
    """bm25_search ranking and scores match an independent pure-Python
    BM25 (same tokenizer/constants) on a small planted corpus."""
    from etl_wrap_spark.operators import retrieval as R

    corpus = {
        1: "spark joins tables with hash partitioning",
        2: "the quick brown fox jumps over the lazy dog",
        3: "hash joins beat sort merge joins on small tables",
        4: "window functions rank rows per partition",
        5: "join join join hash hash tables",
    }
    df = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    postings, doclens = R.bm25_index(df, "doc_id", "text")
    queries = spark.createDataFrame([(100, "hash join tables")], ["qid", "qtext"])
    got = [
        (r["id"], r["score"])
        for r in R.bm25_search(postings, doclens, queries, "qid", "qtext", k=5)
        .orderBy("rank")
        .collect()
    ]
    expect = R.bm25_reference(corpus, "hash join tables", k=5)
    assert [i for i, _ in got] == [i for i, _ in expect]
    for (_, gs), (_, es) in zip(got, expect):
        assert abs(gs - es) < 1e-9
    # every hit actually contains a query term; doc 2 (no overlap) absent
    assert 2 not in {i for i, _ in got}


def test_rrf_fuse_hybrid_bm25_vector(spark):
    """RRF fuses a lexical and a 'vector' ranking without calibration:
    a doc ranked #1 by both beats a doc ranked #1/absent; exact integer
    scores replay in python."""
    from etl_wrap_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], ["id", "rank"])
    vec = spark.createDataFrame([(10, 1), (13, 2), (11, 3)], ["id", "rank"])
    got = {
        r["id"]: (r["rrf_score"], r["rank"])
        for r in rrf_fuse([lex, vec]).collect()
    }
    S = 100_000_000
    expect_scores = {
        10: S // 61 + S // 61,
        11: S // 62 + S // 63,
        12: S // 63,
        13: S // 62,
    }
    assert {i: s for i, (s, _) in got.items()} == expect_scores
    order = sorted(expect_scores.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [i for i, _ in order] == [i for i, (_, r) in sorted(got.items(), key=lambda kv: kv[1][1])]


def test_bloom_filter_laws(spark):
    """No false negatives ever; merge = elementwise OR equals the bloom
    of the union; false-positive rate stays near theory."""
    from etl_wrap_spark.operators import sketches as sk
    from pyspark.sql import functions as F

    a_keys = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    b_keys = spark.createDataFrame([(i,) for i in range(100, 200)], ["k"])
    bloom_a = sk.bloom_build(a_keys, "k")
    bloom_b = sk.bloom_build(b_keys, "k")

    # no false negatives: every member passes
    hits = (
        a_keys.crossJoin(F.broadcast(bloom_a))
        .where(sk.bloom_might_contain("words", F.col("k")))
        .count()
    )
    assert hits == 100

    # merge law: OR of the two blooms == bloom of the union
    merged = bloom_a.crossJoin(bloom_b.withColumnRenamed("words", "wb")).select(
        sk.bloom_merge("words", "wb").alias("words")
    )
    direct = sk.bloom_build(a_keys.unionByName(b_keys), "k")
    assert merged.collect()[0]["words"] == direct.collect()[0]["words"]

    # false positives: probes from a disjoint key range, ~(1-e^-kn/m)^k
    probes = spark.createDataFrame([(i,) for i in range(10_000, 12_000)], ["k"])
    fp = (
        probes.crossJoin(F.broadcast(direct))
        .where(sk.bloom_might_contain("words", F.col("k")))
        .count()
    )
    # n=200, m=8192, k=5 -> theoretical fp ~ 0.3%; allow generous slack
    assert fp / 2000 < 0.02, fp


def test_cms_laws(spark):
    """CMS one-sided error (never undercounts), exactness at low load,
    and the merge law (cellwise sum == sketch of the disjoint union)."""
    from etl_wrap_spark.operators import sketches as sk

    rows_a = [(f"k{i % 50}",) for i in range(1000)]
    rows_b = [(f"k{i % 30}",) for i in range(600)]
    dfa = spark.createDataFrame(rows_a, ["k"])
    dfb = spark.createDataFrame(rows_b, ["k"])

    ska = sk.cms_sketch(dfa, "k")
    keys = spark.createDataFrame([(f"k{i}",) for i in range(60)], ["k"])
    est = {r["k"]: r["est"] for r in sk.cms_estimate(ska, keys, "k").collect()}
    truth = {}
    for (k,) in rows_a:
        truth[k] = truth.get(k, 0) + 1
    for k in truth:
        assert est[k] >= truth[k]               # one-sided
        assert est[k] <= truth[k] + 1000 // 2048 + 5  # tight at this load
    # absent keys estimate (near) zero — and never negative
    assert all(est[f"k{i}"] >= 0 for i in range(50, 60))

    merged = sk.cms_merge(ska, sk.cms_sketch(dfb, "k"))
    direct = sk.cms_sketch(dfa.unionByName(dfb), "k")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_ks_statistic_exact(spark):
    """KS against scipy-free hand math: disjoint supports give D=1;
    identical samples give D=0; a known half-shift gives D=1/2."""
    from etl_wrap_spark.operators.robust import ks_statistic

    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], ["v"])
    b = spark.createDataFrame([(v,) for v in [11, 12, 13, 14]], ["v"])
    r = ks_statistic(a, b, "v").collect()[0]
    assert (r["ks_num"], r["ks_den"]) == (16, 16)  # D = 1 (disjoint)

    r = ks_statistic(a, a, "v").collect()[0]
    assert r["ks_num"] == 0  # identical -> D = 0

    # A = {1,2,3,4}, B = {3,4,5,6}: max gap at x=2 -> F_A=1/2, F_B=0
    c = spark.createDataFrame([(v,) for v in [3, 4, 5, 6]], ["v"])
    r = ks_statistic(a, c, "v").collect()[0]
    assert (r["ks_num"], r["ks_den"]) == (8, 16)  # D = 1/2


def test_golden_record_rules(spark):
    """Per-attribute survivorship: longest text (ties lexicographically
    greatest), modal category (ties smallest), min/max scalars."""
    from etl_wrap_spark.operators import dedup

    comp = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (9, 900)], ["id", "component"]
    )
    recs = spark.createDataFrame(
        [
            (1, "aaaa", "en", 5),
            (2, "bbbb", "de", 7),   # same length as 1 -> 'bbbb' wins (lex greatest)
            (3, "cc", "de", 6),     # 'de' is modal (2 of 3)
            (9, "solo", "fr", 1),
        ],
        ["id", "text", "lang", "score"],
    )
    got = {
        r["component"]: (r["text"], r["lang"], r["score"])
        for r in dedup.golden_record(
            comp, recs, "id", {"text": "longest", "lang": "mode", "score": "max"}
        ).collect()
    }
    assert got[100] == ("bbbb", "de", 7)
    assert got[900] == ("solo", "fr", 1)


def test_sessionize_capped_rules(spark):
    """Both break rules fire: a >gap pause splits; continuous sub-gap
    activity splits at the duration cap."""
    import datetime as dt
    from etl_wrap_spark.operators.events_analytics import sessionize_capped

    base = dt.datetime(2024, 1, 1)
    rows = []
    # burst A: 3 events 10 min apart (one session)
    for i in range(3):
        rows.append((1, base + dt.timedelta(minutes=10 * i), i))
    # 45-min silence -> gap break; burst B: 9 events 20 min apart
    # (crosses the 2h cap mid-way -> duration break)
    b = base + dt.timedelta(minutes=20 + 45)
    for i in range(9):
        rows.append((1, b + dt.timedelta(minutes=20 * i), 100 + i))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id"])
    got = [
        (r["sess_idx"], r["n_events"])
        for r in sessionize_capped(
            df, "user_id", "ts", "event_id", gap="30 minutes", max_duration="2 hours"
        ).orderBy("sess_idx").collect()
    ]
    # burst B: events at +0..160min; cap breaks after the +120min event
    # (the +140 event would stretch past 2h) -> sessions of 7 and 2
    assert got == [(1, 3), (2, 7), (3, 2)]


def test_curate_with_span_and_novelty_stages(spark):
    """The extended curation cascade: NFC unification makes decomposed
    text dedup with its composed twin; span removal cuts the shared
    boilerplate passage out of survivors (which live on)."""
    from etl_wrap_spark import pipelines

    POOL = ['table','query','window','filter','result','engine','column',
            'rowset','batch','stream','cache','index','merge','group',
            'order','value','count','total','span','token']

    def para(tag, n):
        return " ".join(
            f"the {POOL[j % 20]}{tag}{j} maps {POOL[(j*7+3) % 20]}{tag}{j}x "
            f"onto {POOL[(j*3+5) % 20]}{tag}{j}y"
            for j in range(n)
        )

    boiler = ("this license text is provided as is without warranty of any "
              "kind either express or implied including fitness")
    rows = [
        (1, "café " + para("w", 6)),            # composed é
        (2, "café " + para("w", 6)),           # decomposed e+◌́ — dup of 1 after NFC
        (3, boiler + " " + para("x", 5)),
        (4, boiler + " " + para("y", 5)),
        (5, para("z", 6)),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pipelines.curate(
        docs, normalize_unicode=True, remove_dup_spans=True, span_window=15
    )
    clean = {r["doc_id"]: r["text"] for r in out["clean"].collect()}
    # NFC made 1 and 2 exact duplicates -> lowest id kept
    assert 1 in clean and 2 not in clean
    assert {r["doc_id"] for r in out["drops_exact"].collect()} == {2}
    # the shared boilerplate span is cut OUT of docs 3 and 4, which survive
    assert 3 in clean and 4 in clean
    assert "license" not in clean[3] and "warranty" not in clean[4]
    assert "tablex0" in clean[3] and "tabley0" in clean[4]
    assert 5 in clean


def test_triangle_counts_hand_graph(spark):
    """K4 plus a pendant: every K4 node sits in C(3,2)=3 triangles, the
    pendant in none. Edges arrive in mixed directions with duplicates —
    canonicalization must collapse them before orientation."""
    from etl_wrap_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    edges = spark.createDataFrame(k4 + [(5, 1), (1, 5), (2, 1)], ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_orientation_independence(spark):
    """A hub star (no triangles) plus one closed wedge: only the wedge
    triangle is found; the high-degree hub contributes nothing — the
    degree orientation must not fabricate or miss across the hub."""
    from etl_wrap_spark.operators.graph import triangle_counts

    star = [(100, i) for i in range(1, 20)]
    edges = spark.createDataFrame(star + [(1, 2), (2, 100)], ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert got == {100: 1, 1: 1, 2: 1}


def test_bfs_hops_path_and_bound(spark):
    """Path 1-2-3-4-5 from source {1}: hops are exact, and node 5 (4
    hops away) is absent under max_hops=3. A self-loop on the source
    must not re-admit it at a later hop."""
    from etl_wrap_spark.operators.graph import bfs_hops

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 1)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], ["src", "dst"])
    sources = spark.createDataFrame([(1,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, sources, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_multi_source_min(spark):
    """Two sources at the ends of a path: every node takes the MIN hop
    distance over sources (meet in the middle)."""
    from etl_wrap_spark.operators.graph import bfs_hops

    und = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(und + [(b, a) for a, b in und], ["src", "dst"])
    sources = spark.createDataFrame([(1,), (5,)], ["node"])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, sources, max_hops=3).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_kcore_peel_k4_pendant_and_chain(spark):
    """K4 + pendant at k=2: the pendant peels in round 1, K4 survives
    at degree 3. A bare chain at k=2 dissolves completely within two
    rounds (endpoints first, then the stranded middle)."""
    from etl_wrap_spark.operators.graph import kcore_peel

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(k4, ["src", "dst"])
    got = {r["node"]: r["deg"] for r in kcore_peel(edges, k=2, rounds=2).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    chain = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    assert kcore_peel(chain, k=2, rounds=2).count() == 0


def test_importance_weights_hashed_exact(spark):
    """Hand replication of the scaled-integer ratio weights, including
    the portable md5-60 bucketing — target doc tokens must score higher
    than tokens only the raw corpus has."""
    import hashlib

    from etl_wrap_spark.operators.sampling import importance_weights_hashed

    # tokens chosen to occupy DISTINCT buckets at n_buckets=8 so the
    # target-affinity inequality below is collision-free by construction
    docs = [(1, "alpha delta alpha"), (2, "omega delta"), (3, "omega omega kappa")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["weight_fp"], r["avg_fp"])
        for r in importance_weights_hashed(
            df, "doc_id", "text", F.col("doc_id") == 1, n_buckets=8, scale=1000
        ).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8

    toks = {i: t.split() for i, t in docs}
    c_r, c_t = {}, {}
    for i, ts in toks.items():
        for tok in ts:
            b = bucket(tok)
            c_r[b] = c_r.get(b, 0) + 1
            if i == 1:
                c_t[b] = c_t.get(b, 0) + 1
    expect = {}
    for i, ts in toks.items():
        w = sum(
            (1000 * (c_t.get(bucket(tok), 0) + 1)) // (c_r[bucket(tok)] + 1)
            for tok in ts
        )
        expect[i] = (len(ts), w, w // len(ts))
    assert out == expect
    # target doc scores strictly above the doc sharing no target tokens
    assert out[1][2] > out[3][2]


def test_assign_split_grouped_no_leakage(spark):
    """Every member of a group lands in the same split (the leakage
    guard), the assignment is deterministic across calls, and with many
    groups all three splits are populated roughly by weight."""
    from etl_wrap_spark.operators.sampling import assign_split_grouped

    rows = [(i, i % 400) for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = assign_split_grouped(df, "grp").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_grp.values())
    counts = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    again = assign_split_grouped(df, "grp").collect()
    assert sorted((r["doc_id"], r["split"]) for r in out) == sorted(
        (r["doc_id"], r["split"]) for r in again
    )


def test_graph_ops_degenerate_inputs(spark):
    """Empty edge lists and empty source sets degrade to empty results
    (schema intact), and self-loops alone make no graph."""
    from etl_wrap_spark.operators.graph import bfs_hops, kcore_peel, triangle_counts

    empty = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    loops = spark.createDataFrame([(1, 1), (2, 2)], ["src", "dst"])
    assert triangle_counts(empty).count() == 0
    assert triangle_counts(loops).count() == 0
    assert kcore_peel(empty, k=2, rounds=2).count() == 0
    assert kcore_peel(loops, k=1, rounds=1).count() == 0
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    no_sources = spark.createDataFrame([], "node BIGINT")
    out = bfs_hops(edges, no_sources, max_hops=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "hops"]


def test_deseasonalize_exact(spark):
    """Hand data: baseline is the exact integer mean per season cell;
    residuals are exact; the profile join preserves row count."""
    from etl_wrap_spark.operators.events_analytics import deseasonalize

    rows = [
        (1, "a", 0, 100), (2, "a", 0, 110), (3, "a", 0, 96),
        (4, "a", 1, 50), (5, "b", 0, 7),
    ]
    df = spark.createDataFrame(rows, ["id", "typ", "hr", "cents"])
    out = {r["id"]: (r["baseline"], r["residual"])
           for r in deseasonalize(df, ["typ", "hr"], "cents").collect()}
    # cell (a,0): mean = 306 div 3 = 102
    assert out == {1: (102, -2), 2: (102, 8), 3: (102, -6),
                   4: (50, 0), 5: (7, 0)}


def test_dp_noisy_counts_mechanism(spark):
    """The seeded discrete-Laplace draw replays exactly in independent
    Python (thresholds + md5-60 uniform + sign bit), is deterministic
    across calls, changes with the salt, and its magnitude expectation
    over many groups is near E[M] = 4/3 for α=1/2."""
    import hashlib

    from etl_wrap_spark.operators.privacy import dp_noise_thresholds, dp_noisy_counts

    th = dp_noise_thresholds()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def noise(key, salt):
        u = h60(f"{salt}:{key}")
        mag = sum(1 for t in th if t <= u)
        sgn = 1 if h60(f"{salt}:s:{key}") % 2 == 0 else -1
        return sgn * mag

    rows = [(f"g{i % 200}",) for i in range(2000)]
    df = spark.createDataFrame(rows, ["grp"])
    out = {r["grp"]: r["noisy_count"]
           for r in dp_noisy_counts(df, ["grp"], salt="s1").collect()}
    true = {}
    for (g,) in rows:
        true[g] = true.get(g, 0) + 1
    assert out == {g: c + noise(g, "s1") for g, c in true.items()}
    # deterministic replay; independent draw under a rotated salt
    again = {r["grp"]: r["noisy_count"]
             for r in dp_noisy_counts(df, ["grp"], salt="s1").collect()}
    assert out == again
    other = {r["grp"]: r["noisy_count"]
             for r in dp_noisy_counts(df, ["grp"], salt="s2").collect()}
    assert other != out
    # E[|noise|] = 2α/(1-α²) · ... = 4/3 at α=1/2; loose band over 200 draws
    mean_mag = sum(abs(out[g] - true[g]) for g in true) / len(true)
    assert 0.9 < mean_mag < 1.9


def test_dp_noisy_sums_clamp_and_replay(spark):
    """Clamping bounds each row's contribution before the sum; the
    noisy sum replays exactly in independent Python."""
    import hashlib

    from etl_wrap_spark.operators.privacy import dp_noise_thresholds, dp_noisy_sums

    rows = [("a", 5), ("a", 250), ("a", -10), ("b", 100)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = {r["grp"]: r["noisy_sum"]
           for r in dp_noisy_sums(df, ["grp"], "v", 0, 100, salt="t").collect()}
    th = dp_noise_thresholds()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def noise(key):
        mag = sum(1 for t in th if t <= h60(f"t:{key}"))
        return (1 if h60(f"t:s:{key}") % 2 == 0 else -1) * mag

    # clamped sums: a -> 5 + 100 + 0 = 105, b -> 100
    assert out == {"a": 105 + noise("a"), "b": 100 + noise("b")}


def test_personalized_pagerank_seed_confinement(spark):
    """On a disconnected pair of components, seeding one confines all
    mass there: unseeded-component nodes hold exactly 0; replay matches
    exact integer arithmetic."""
    from etl_wrap_spark.operators.graph import pagerank_fixedpoint

    # component A: 1<->2; component B: 3<->4
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (4, 3)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    scale = 10**12
    got = {r["node"]: r["rank_fp"]
           for r in pagerank_fixedpoint(edges, iterations=2, seeds=seeds).collect()}
    assert got[3] == 0 and got[4] == 0
    # exact replay: r0 = {1: scale, 2: 0}; base = {1: 15% scale, 2: 0}
    base = (scale * 15) // 100
    r = {1: scale, 2: 0}
    for _ in range(2):
        nxt = {1: base, 2: 0}
        nxt[2] += (r[1] * 85) // 100
        nxt[1] += (r[2] * 85) // 100
        r = nxt
    assert got[1] == r[1] and got[2] == r[2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank_fixedpoint(
            edges, seeds=spark.createDataFrame([(99,)], ["node"])
        ).collect()


def test_label_propagation_two_triangles(spark):
    """Two triangles joined by one bridge edge: after 2 synchronous
    rounds each triangle coalesces onto its own minimum id — the
    bridge does not out-vote the dense neighborhoods (the property
    that distinguishes LPA from connected components, which would
    merge everything to one label)."""
    from etl_wrap_spark.operators.graph import label_propagation

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri1 + tri2 + [(3, 10)], ["src", "dst"])
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, rounds=2).collect()}
    # hand replay (synchronous, min tie-break):
    # r1: 1<-min(2,3)=2; 2<-min(1,3)=1; 3<-min(1,2,10)=1; 10<-min(11,12,3)=3;
    #     11<-min(10,12)=10; 12<-min(10,11)=10
    # r2: 1<-maj(1,1)=1; 2<-maj(2,1)=1 (tie min); 3<-maj(2,1,3)->... nbrs of 3
    #     are {1:2,2:1,10:3} labels {2,1,3} tie min = 1; 10's nbrs {11,12,3}
    #     labels {10,10,1} -> 10; 11 nbrs {10,12} labels {3,10} tie min 3;
    #     12 nbrs {10,11} labels {3,10} tie min 3
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 3, 12: 3}
    # both communities distinct after 2 rounds; CC would give one label
    assert {got[1], got[2], got[3]} == {1}
    assert 1 not in {got[10], got[11], got[12]}


def test_kcore_preserves_embedded_clique(spark):
    """A (k+1)-clique is a k-core: wiring it to a long tail of pendant
    chains must not erode it — after enough peels exactly the clique
    survives, every member at degree k."""
    from etl_wrap_spark.operators.graph import kcore_peel

    k = 3
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    tail = [(4, 100), (100, 101), (101, 102), (102, 103)]
    edges = spark.createDataFrame(clique + tail, ["src", "dst"])
    got = {r["node"]: r["deg"] for r in kcore_peel(edges, k=k, rounds=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_complete_graph(spark):
    """K6: every node participates in C(5,2) = 10 triangles; total
    C(6,3) = 20 — the closed-form check on the wedge-join algebra."""
    from etl_wrap_spark.operators.graph import triangle_counts

    k6 = [(a, b) for a in range(6) for b in range(6) if a < b]
    got = {r["node"]: r["triangles"]
           for r in triangle_counts(spark.createDataFrame(k6, ["src", "dst"])).collect()}
    assert got == {i: 10 for i in range(6)}
    assert sum(got.values()) == 3 * 20


def test_cusum_prefix_form_equals_recursion(spark):
    """The window closed form must equal the textbook recursion
    S⁺_d = max(0, S⁺ + (v-μ-s)), S⁻_d = max(0, S⁻ - (v-μ+s)) on a
    series with a planted level shift — and the shift must flag while
    the pre-shift noise does not."""
    from etl_wrap_spark.operators.robust import cusum_changepoints

    vals = [100, 103, 98, 101, 99, 102, 100, 97, 150, 152, 149, 151, 148, 150]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["grp", "t", "v"])
    out = {r["t"]: (r["splus"], r["sminus"], r["cusum_flag"])
           for r in cusum_changepoints(df, ["grp"], "t", "v",
                                       slack_bp=500, threshold_bp=2000).collect()}
    mu = sum(vals) // len(vals)
    s = (mu * 500) // 10000
    h = (mu * 2000) // 10000
    sp = sm = 0
    for i, v in enumerate(vals):
        sp = max(0, sp + (v - mu - s))
        sm = max(0, sm - (v - mu + s))
        assert out[i] == (sp, sm, sp > h or sm > h), f"t={i}"
    # with a retrospective (whole-series) reference mean both regimes
    # drift from it: the low prefix accumulates on the MINUS side, the
    # shifted tail on the PLUS side — and single points never flag
    # before deviation accumulates
    assert not out[0][2]
    assert out[7][1] > 0 and out[7][0] == 0  # prefix: minus side only
    assert out[len(vals) - 1][0] > 0 and out[len(vals) - 1][2]


def test_skyline_2d_matches_bruteforce(spark):
    """The two-phase window skyline equals the O(n²) dominance
    definition on a crafted set with cost ties, benefit ties, and an
    exact duplicate pair (both duplicates survive: neither strictly
    dominates)."""
    from etl_wrap_spark.operators.robust import skyline_2d

    pts = [(1, 10, 5), (2, 10, 7), (3, 12, 7), (4, 8, 3), (5, 8, 3),
           (6, 15, 9), (7, 20, 9), (8, 7, 1), (9, 30, 10), (10, 11, 6)]
    df = spark.createDataFrame(pts, ["id", "cost", "benefit"])
    got = sorted(r["id"] for r in skyline_2d(df, "cost", "benefit", buckets=3).collect())

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts if q[0] != p[0]
        )

    expect = sorted(p[0] for p in pts if not dominated(p))
    assert got == expect
    assert 4 in got and 5 in got  # the duplicate pair both survive


def test_time_weighted_mean_exact(spark):
    """Hand series: values weighted by their holding duration; the last
    observation carries no weight; single-observation keys emit NULL."""
    import datetime as dt

    from etl_wrap_spark.operators.asof import time_weighted_mean

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0, 100), ("a", t0 + dt.timedelta(seconds=10), 200),
        ("a", t0 + dt.timedelta(seconds=40), 999),
        ("b", t0, 7),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "cents"])
    out = {r["k"]: (r["n_obs"], r["dur_us"], r["twap_cents"])
           for r in time_weighted_mean(df, ["k"], "ts", "cents").collect()}
    # a: 100 for 10s, 200 for 30s over 40s => (100*10e6 + 200*30e6) div 40e6 = 175
    assert out["a"] == (3, 40_000_000, 175)
    assert out["b"] == (1, 0, None)


def test_join_fanout_audit_sides(spark):
    """Counts, products, one-sided zero reporting, and the threshold
    flag — on a crafted key set."""
    from etl_wrap_spark.operators.validate import join_fanout_audit

    left = spark.createDataFrame([("k1",)] * 3 + [("k2",)] * 5 + [("only_l",)], ["k"])
    right = spark.createDataFrame([("k1",)] * 2 + [("k2",)] * 4 + [("only_r",)], ["k"])
    out = {r["k"]: (r["n_left"], r["n_right"], r["fanout"], r["over_threshold"])
           for r in join_fanout_audit(left, right, ["k"], threshold=10).collect()}
    assert out == {
        "k1": (3, 2, 6, False),
        "k2": (5, 4, 20, True),
        "only_l": (1, 0, 0, False),
        "only_r": (0, 1, 0, False),
    }


def test_contribution_pareto_partitioning_invariance(spark, parallelism):
    """The distributed prefix decomposition returns the same head set
    and cumulative shares for any partition count; hand-check the
    boundary rule (a row straddling the target is included)."""
    from etl_wrap_spark.operators.profile import contribution_pareto

    rows = [(i, w) for i, w in enumerate([50, 30, 10, 5, 3, 2])]
    df = spark.createDataFrame(rows, ["id", "w"])
    outs = []
    for nparts in (1, 2, 4):
        with parallelism(nparts):
            got = {r["id"]: (r["share_bp"], r["cum_share_bp"], r["in_top"])
                   for r in contribution_pareto(df, "id", "w", 8000).collect()}
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    got = outs[0]
    # total 100: head = 50 (cum-before 0) and 30 (cum-before 50%); the
    # 10 starts at 80% exactly -> NOT in top (strict <)
    assert got[0][2] and got[1][2] and not got[2][2]
    assert got[0] == (5000, 5000, True)


def test_chi2_contingency_independent_table(spark):
    """A perfectly independent 2x2 contingency (counts = product form)
    gives zero deviation in every cell; a dependent one does not."""
    from etl_wrap_spark.operators.profile import chi2_contingency_bp

    indep = [("a", "x")] * 4 + [("a", "y")] * 2 + [("b", "x")] * 2 + [("b", "y")] * 1
    df = spark.createDataFrame(indep, ["r", "c"])
    out = [r["cell_chi2"] for r in chi2_contingency_bp(df, "r", "c").collect()]
    assert all(v == 0.0 for v in out)
    dep = [("a", "x")] * 5 + [("b", "y")] * 5
    out2 = [r["cell_chi2"] for r in chi2_contingency_bp(
        spark.createDataFrame(dep, ["r", "c"]), "r", "c").collect()]
    assert all(v > 0 for v in out2)


def test_benford_profile_exact(spark):
    """Hand counts against an independent Python replication, zero
    -count digits present, bp columns exact."""
    from etl_wrap_spark.operators.profile import BENFORD_BP, benford_profile

    vals = [1, 12, 19, 2, 25, 31, 99, 100, 0, -45]  # 0 excluded; -45 -> digit 4
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = {r["digit"]: (r["n"], r["observed_bp"], r["dev2_scaled"])
           for r in benford_profile(df, "v").collect()}
    from collections import Counter
    cnt = Counter(str(abs(v))[0] for v in vals if v != 0)
    tot = sum(cnt.values())
    for d in range(1, 10):
        n = cnt.get(str(d), 0)
        dev = n * 10000 - tot * BENFORD_BP[d]
        assert out[d] == (n, (n * 10000) // tot, (dev * dev) // tot), d
    assert out[5][0] == 0  # zero-count digit still profiled


def test_time_decay_attribution_exact_weights(spark):
    """Touches at 0.5h, 1.5h, 2.5h before the conversion: ages in whole
    half-lives are 0/1/2 → weights 2^40, 2^39, 2^38 (ratio 4:2:1),
    shares 5714/2857/1428 bp exactly."""
    import datetime as dt

    from etl_wrap_spark.operators.events_analytics import time_decay_attribution

    conv = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, conv, "purchase", 0.0),
        (1, conv - dt.timedelta(minutes=30), "click", 0.0),
        (1, conv - dt.timedelta(minutes=90), "click", 0.0),
        (1, conv - dt.timedelta(minutes=150), "click", 0.0),
        (2, conv - dt.timedelta(hours=50), "click", 0.0),  # outside any window
        (2, conv, "purchase", 0.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type", "value"])
    out = time_decay_attribution(df, lookback="6 hours", half_life_minutes=60)
    got = {(r["user_id"], r["touch_ts"]): (r["weight_scaled"], r["share_bp"])
           for r in out.collect()}
    w0, w1, w2 = 1 << 40, 1 << 39, 1 << 38
    tot = w0 + w1 + w2
    assert got == {
        (1, conv - dt.timedelta(minutes=30)): (w0, (w0 * 10000) // tot),
        (1, conv - dt.timedelta(minutes=90)): (w1, (w1 * 10000) // tot),
        (1, conv - dt.timedelta(minutes=150)): (w2, (w2 * 10000) // tot),
    }
    assert (got[(1, conv - dt.timedelta(minutes=30))][1]) == 5714


def test_radius_join_2d_bruteforce_and_edges(spark):
    """Celled join equals brute force on a crafted set spanning cell
    boundaries (including a pair straddling adjacent cells and a pair
    just beyond the radius), each unordered pair exactly once."""
    from etl_wrap_spark.operators.spatial import radius_join_2d

    pts = [(1, 0.0, 0.0), (2, 0.09, 0.0), (3, 0.11, 0.0), (4, 0.5, 0.5),
           (5, -0.05, -0.05), (6, 0.0, 0.101)]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    r = 0.1
    got = sorted((row["id_a"], row["id_b"])
                 for row in radius_join_2d(df, "id", "x", "y", r).collect())
    import itertools
    expect = sorted(
        (a[0], b[0])
        for a, b in itertools.combinations(pts, 2)
        if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
    )
    assert got == expect
    assert (1, 2) in got and (1, 3) not in got  # boundary discrimination
    assert len(got) == len(set(got))  # no duplicate pairs


def test_weighted_median_hand(spark):
    """Weight mass, not row count, decides: one heavy row outweighs
    many light ones; equal-split lower-median convention."""
    from etl_wrap_spark.operators.robust import weighted_median

    rows = [("g", 1, 1), ("g", 2, 1), ("g", 3, 1), ("g", 100, 10),
            ("h", 5, 2), ("h", 7, 2), ("z", 9, 0)]
    df = spark.createDataFrame(rows, ["grp", "v", "w"])
    out = {r["grp"]: (r["total_w"], r["wmedian"])
           for r in weighted_median(df, ["grp"], "v", "w").collect()}
    # g: W=13, half=6.5 -> first value with cum*2>=13 is 100 (cum 3 at v=3)
    assert out["g"] == (13, 100)
    # h: W=4, 2*cum at v=5 is 4 >= 4 -> lower median 5
    assert out["h"] == (4, 5)
    assert "z" not in out  # all-zero-weight group drops


def test_curate_cluster_safe_split_and_importance(spark):
    """The loose-cluster split keeps WEAK near-dups (below the dedup
    bar, above the grouping bar) in the same split, and the DSIR
    selection stage keeps the most target-like half of the survivors."""
    from pyspark.sql import functions as F

    from etl_wrap_spark import pipelines

    shared = (
        "the river runs through a green valley and the light is soft "
        "in the morning hours here today"
    )
    tail_a = "while the herons wade slowly along the eastern shallows downstream"
    tail_b = "because the mill wheel turns beside the quiet stone bridge upstream"
    rows = [
        (1, f"{shared} {tail_a}"),
        (2, f"{shared} {tail_b}"),
        (3, "a completely different story about markets and the price of grain in the old town where traders argue and settle for less than they hoped"),
        (4, "the harbor master counts the ships at dawn and writes their names in a heavy ledger while the gulls circle over the cold northern water"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    out = pipelines.curate(docs, split_jaccard=(3, 1))
    clean = {r["doc_id"]: r for r in out["clean"].collect()}
    # the weak pair survives the J>=0.5 dedup bar...
    assert 1 in clean and 2 in clean
    # ...and lands in the SAME split via the loose-cluster draw
    assert clean[1]["split"] == clean[2]["split"]
    # rerun determinism holds with the new stage
    again = {r["doc_id"]: r for r in
             pipelines.curate(docs, split_jaccard=(3, 1))["clean"].collect()}
    assert again == clean

    out2 = pipelines.curate(
        docs,
        importance_target=F.col("doc_id").isin(1, 2),
        importance_keep_bp=5000,
    )
    kept = {r["doc_id"] for r in out2["clean"].collect()}
    dropped = {r["doc_id"] for r in out2["drops_importance"].collect()}
    # the w-vocabulary (target) docs outrank the filler docs
    assert {1, 2} <= kept
    assert dropped and dropped <= {3, 4}


def test_skyline_2d_fractional_costs(spark):
    """Double costs route to the generic per-cost-maxima path: a
    dominator at cost p-0.5 (inside the (p-1, p) gap the RANGE frame
    misses) must still eliminate p — the round-4 ADVICE defect."""
    from etl_wrap_spark.operators.robust import skyline_2d

    pts = [(1, 9.5, 8.0), (2, 10.0, 7.0),  # 1 dominates 2 within the gap
           (3, 5.0, 5.0), (4, 5.0, 5.0),   # duplicate pair: both survive
           (5, 4.25, 2.0), (6, 20.0, 9.0)]
    df = spark.createDataFrame(pts, ["id", "cost", "benefit"])
    got = sorted(r["id"] for r in skyline_2d(df, "cost", "benefit", buckets=3).collect())

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in pts if q[0] != p[0]
        )

    expect = sorted(p[0] for p in pts if not dominated(p))
    assert got == expect
    assert 2 not in got


def test_temperature_quotas_exact_apportionment(spark):
    """Seats sum EXACTLY to total; sqrt-flattening moves share from the
    dominant group to scarce ones vs proportional; largest-remainder
    ties break deterministically."""
    from etl_wrap_spark.operators.sampling import temperature_quotas

    rows = [("en", i) for i in range(900)] + [("de", i) for i in range(90)] + \
           [("fr", i) for i in range(10)]
    df = spark.createDataFrame(rows, ["lang", "i"])
    out = {r["lang"]: r for r in temperature_quotas(df, "lang", total=10000).collect()}
    seats = {k: v["seats"] for k, v in out.items()}
    assert sum(seats.values()) == 10000
    # proportional shares would be 9000/900/100; sqrt flattens toward
    # 30:9.49:3.16 => en well below 9000, fr well above 100
    assert seats["en"] < 7500 and seats["fr"] > 600
    assert out["en"]["n"] == 900
    # determinism
    again = {r["lang"]: r["seats"]
             for r in temperature_quotas(df, "lang", total=10000).collect()}
    assert again == seats


def test_snapshot_novelty_semantics(spark):
    """Novel = new-snapshot shingle TYPES absent from old; repeats in
    the new snapshot count once (type-level)."""
    from etl_wrap_spark.operators.dedup import snapshot_novelty

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "alpha beta gamma delta"),          # fully seen
         (3, "wholly novel content here today"), # fully new
         (4, "wholly novel content here today")],  # duplicate of 3: no new types
        ["doc_id", "text"],
    )
    r = snapshot_novelty(old, new, "doc_id", "text", n=3).collect()[0]
    # new types: 2 from doc2's text (seen) + 3 from doc3/4 (novel)
    assert r["new_types"] == 5 and r["novel_types"] == 3
    assert r["novelty_bp"] == 10000 * 3 // 5


def test_value_class_collapse_equivalence(spark):
    """The value-class collapse of each public operator (minhash
    near-dup, prefix Jaccard, containment, embedding near-dup, fuzzy
    join) must be row-for-row identical to its uncollapsed private
    kernel on a corpus WITH byte-identical duplicates — the exact
    regime the collapse optimizes (round-5 sf1 lesson: clone-heavy
    corpora pay clone-quadratic flops on the direct path)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog in the park"),
        (2, "the quick brown fox jumps over the lazy dog in the park"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog in the yard"),   # near dup
        (4, "completely different text about distributed query engines"),
        (5, "completely different text about distributed query engines"), # exact dup of 4
        (6, "the quick brown fox jumps over the lazy dog in the park"),   # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    direct = dedup._minhash_pairs(docs, "doc_id", "text", n=3, num=2, den=1)
    fast = dedup.near_dup_pairs_minhash(docs, "doc_id", "text", n=3, num=2, den=1)
    assert key(fast) == key(direct) and fast.count() >= 4  # (1,2),(1,6),(2,6),(4,5)+near

    # prefix join at J >= 0.8: the four clone pairs plus the three
    # park/yard pairs (9 shared trigrams of 11 in the union: J = 0.82)
    dp = dedup._prefix_pairs(docs, "doc_id", "text", n=3, num=5, den=4)
    fp = dedup.prefix_jaccard_pairs(docs, "doc_id", "text", n=3, num=5, den=4)
    assert key(fp) == key(dp) and fp.count() == 7
    # directed containment at C >= 0.9 (park/yard: 9 of 10): each of
    # those seven pairs qualifies both ways
    dc = dedup._containment_pairs(docs, "doc_id", "text", n=3, num=10, den=9)
    fc = dedup.containment_pairs(docs, "doc_id", "text", n=3, num=10, den=9)
    assert key(fc) == key(dc) and fc.count() == 14

    vecs = [
        (1, [1.0, 0.0, 0.5, 0.2]),
        (2, [1.0, 0.0, 0.5, 0.2]),        # exact dup
        (3, [0.99, 0.01, 0.5, 0.2]),      # near dup
        (4, [-1.0, 0.3, -0.5, 0.8]),
        (5, [-1.0, 0.3, -0.5, 0.8]),      # exact dup
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "v"])
    planes = [[0.3, -0.7, 0.1, 0.9], [-0.2, 0.4, 0.8, -0.1]]
    d2 = similarity._bucket_pairs(emb, "vec_id", "v", min_cos_bp=9900, planes=planes)
    f2 = similarity.embedding_near_dups(emb, "vec_id", "v", min_cos_bp=9900, planes=planes)
    assert key(f2) == key(d2) and f2.count() >= 2

    from etl_wrap_spark.operators.linkage import _fuzzy_pairs, fuzzy_join

    left = spark.createDataFrame(
        [(10, "smith"), (11, "smith"), (12, "smyth"), (13, "jones")], ["lid", "lname"]
    )
    right = spark.createDataFrame(
        [(20, "smith"), (21, "jonez"), (22, "jonez")], ["rid", "rname"]
    )
    d3 = _fuzzy_pairs(left, right, "lid", "lname", "rid", "rname", max_dist=1)
    f3 = fuzzy_join(left, right, "lid", "lname", "rid", "rname", max_dist=1)
    assert key(f3) == key(d3) and f3.count() >= 5


def test_connected_components_fast_path_matches_distributed(spark, distributed):
    # the driver union-find must be label-identical to the distributed
    # star rounds on chains, cliques, self-loops, string ids, and random
    # graphs (the ``distributed`` fixture forces the distributed run).
    import random as _r

    _r.seed(13)
    edge_sets = [
        [(i, i + 1) for i in range(30)],                      # long chain
        [(0, j) for j in range(1, 8)] + [(5, 5)],             # star + self-loop
        [(_r.randint(0, 99), _r.randint(0, 99)) for _ in range(200)],
        [("a", "b"), ("b", "c"), ("x", "y")],                 # strings
    ]
    from etl_wrap_spark.operators import dedup

    for edges in edge_sets:
        typ = "STRING" if isinstance(edges[0][0], str) else "LONG"
        pairs = spark.createDataFrame(edges, f"id_a {typ}, id_b {typ}")
        fast = {r.doc_id: r.component
                for r in dedup.connected_components(pairs).collect()}
        with distributed():
            slow = {r.doc_id: r.component
                    for r in dedup.connected_components(pairs).collect()}
        assert fast == slow


def test_pagerank_fast_path_matches_distributed(spark, distributed):
    # the driver numpy fixed-point must be value-identical to the
    # distributed iteration (same scaled-int floor divisions, same
    # duplicate-edge multiplicity) across plain / weighted /
    # personalized variants; the ``distributed`` fixture forces the
    # distributed run.
    import random as _r

    from etl_wrap_spark.operators.graph import pagerank_fixedpoint

    _r.seed(29)
    raw = [(_r.randint(0, 49), _r.randint(0, 49), _r.randint(1, 9))
           for _ in range(300)]
    raw += raw[:40]  # duplicate edges must contribute multiply
    edges = spark.createDataFrame(raw, "src LONG, dst LONG, w LONG")
    seeds = spark.createDataFrame([(i,) for i in range(0, 50, 7)], "node LONG")

    for kw in ({}, {"weight": "w"}, {"seeds": seeds}):
        fast = {r.node: r.rank_fp
                for r in pagerank_fixedpoint(edges, iterations=3, **kw).collect()}
        with distributed():
            slow = {r.node: r.rank_fp
                    for r in pagerank_fixedpoint(
                        edges, iterations=3, **kw).collect()}
        assert fast == slow and len(fast) > 0


def test_minhash_signatures_from_text_matches_groupby_form(spark):
    # the shuffle-free array_min builder must be value-identical to the
    # explode+groupBy form (same base hash, same permutations) — incl.
    # on single-token and duplicate-shingle texts — and so must
    # signature_index, the engine's one signature build
    from etl_wrap_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "one"),
            (4, "a a a a a a"),
            (5, "completely different text with many unusual tokens here"),
            # NULL text: shingles() is never null (NULL text -> [""]),
            # so BOTH forms keep the doc with the ""-shingle signature —
            # the round-8 ADVICE's presumed row-set delta does not exist,
            # and this row pins that it stays that way
            (6, None),
        ],
        "doc_id LONG, text STRING",
    )
    sf = dedup.shingle_frame(docs, "doc_id", "text", 3)
    old = {r["doc_id"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("mh"))
           for r in dedup.minhash_signatures(sf, "doc_id").collect()}
    new = {r["doc_id"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("mh"))
           for r in dedup.minhash_signatures_from_text(docs, "doc_id", "text", 3).collect()}
    idx = {r["doc_id"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("mh"))
           for r in dedup.signature_index(docs, "doc_id", "text", 3).collect()}
    assert old == new == idx and len(old) == 6 and 6 in idx


def test_bfs_fast_paths_match_distributed(spark, distributed):
    # the CSR numpy BFS must agree with the distributed frontier
    # iteration row-for-row, incl. isolated seeds and out-of-graph seeds
    # (the ``distributed`` fixture forces the distributed run)
    import random as _r

    from etl_wrap_spark.operators.graph import bfs_hops

    _r.seed(41)
    raw = [(_r.randint(0, 79), _r.randint(0, 79)) for _ in range(240)]
    edges = spark.createDataFrame(raw, "src LONG, dst LONG")
    seeds = spark.createDataFrame(
        [(1,), (5,), (500,)], "node LONG"  # 500 is not in the graph
    )
    fast = {(r.node, r.hops) for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    with distributed():
        slow = {(r.node, r.hops)
                for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert fast == slow and fast


def test_harmonic_bitmask_fast_path_matches_distributed(spark, distributed):
    # the seed-bitmask propagation must agree with the labeled-BFS
    # aggregation on (n_sources, harmonic_micro) — random graph, >64
    # seeds (two uint64 lanes), out-of-graph seed, include_sources both
    import random as _r

    from etl_wrap_spark.operators.graph import harmonic_centrality

    _r.seed(53)
    raw = [(_r.randint(0, 199), _r.randint(0, 199)) for _ in range(900)]
    edges = spark.createDataFrame(raw, "src LONG, dst LONG")
    seeds = spark.createDataFrame(
        [(i,) for i in range(0, 140, 2)] + [(5000,)], "node LONG"  # 71 seeds
    )
    for inc in (False, True):
        fast = {r.node: (r.n_sources, r.harmonic_micro)
                for r in harmonic_centrality(
                    edges, seeds, max_hops=3, include_sources=inc).collect()}
        with distributed():
            slow = {r.node: (r.n_sources, r.harmonic_micro)
                    for r in harmonic_centrality(
                        edges, seeds, max_hops=3, include_sources=inc).collect()}
        assert fast == slow and len(fast) > 50


def test_graph_fast_paths_tolerate_nulls(spark, distributed):
    # round-8 ADVICE: a NULL seed or NULL edge endpoint must not
    # TypeError the numpy fast paths — the adaptive pick falls through
    # to the distributed plan (which DEFINES null semantics: equi-joins
    # drop null matches, bfs emits the (NULL, 0) seed row), so default
    # and forced-distributed invocations stay value-identical.
    from etl_wrap_spark.operators.graph import (
        bfs_hops,
        harmonic_centrality,
        pagerank_fixedpoint,
        sssp_bounded,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (None, 4), (4, None)], "src LONG, dst LONG"
    )
    seeds = spark.createDataFrame([(1,), (None,)], "node LONG")
    f = {(r.node, r.hops) for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    with distributed():
        s = {(r.node, r.hops)
             for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert f == s and (None, 0) in f
    # sssp: the NULL seed sits at cost 0 on both routes (the gate sends
    # a seed list holding a NULL to the distributed plan)
    fs = {(r.node, r.cost) for r in sssp_bounded(
        edges.withColumn("w", F.lit(1)), seeds, max_hops=2).collect()}
    with distributed():
        ss = {(r.node, r.cost) for r in sssp_bounded(
            edges.withColumn("w", F.lit(1)), seeds, max_hops=2).collect()}
    assert fs == ss and (None, 0) in fs
    fh = {r.node: (r.n_sources, r.harmonic_micro)
          for r in harmonic_centrality(edges, seeds, max_hops=2).collect()}
    with distributed():
        sh = {r.node: (r.n_sources, r.harmonic_micro)
              for r in harmonic_centrality(edges, seeds, max_hops=2).collect()}
    assert fh == sh and fh
    # bfs_hops_labeled (distributed only): a NULL seed emits its own
    # hops-0 row and never equi-joins an edge
    from etl_wrap_spark.operators.graph import bfs_hops_labeled

    sl = {(r.source, r.node, r.hops)
          for r in bfs_hops_labeled(edges, seeds, max_hops=2).collect()}
    assert (None, None, 0) in sl
    # null-free edges + a NULL seed: pagerank's personalized fast path
    # must filter the seed exactly as the distributed semi-join does
    clean = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src LONG, dst LONG")
    fp = {r.node: r.rank_fp
          for r in pagerank_fixedpoint(clean, iterations=2, seeds=seeds).collect()}
    with distributed():
        sp = {r.node: r.rank_fp
              for r in pagerank_fixedpoint(
                  clean, iterations=2, seeds=seeds).collect()}
    assert fp == sp and fp


def test_fast_paths_decline_without_driver_headroom(spark, monkeypatch, distributed):
    # every size-gated fast path honours the driver-headroom gate: with
    # the MemAvailable floor out of reach nothing is collected (the
    # collect helper raises if reached) and each operator returns the
    # rows its driver kernel gives (the fixture's default pins that
    # route)
    import numpy as np

    from etl_wrap_spark.operators import graph
    from etl_wrap_spark.operators.incremental_join import (
        ancestor_closure,
        flatten_hierarchy,
    )

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (3, 4, 5), (6, 7, 1), (4, 8, 2)],
        "src LONG, dst LONG, w LONG",
    )
    seeds = spark.createDataFrame([(1,), (6,)], "node LONG")
    pairs = edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    tree = spark.createDataFrame(
        [(i, i // 2) for i in range(2, 24)], "child LONG, parent LONG"
    )
    rng = np.random.RandomState(4)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    runs = {
        "cc": lambda: dedup.connected_components(pairs),
        "flatten": lambda: flatten_hierarchy(tree),
        "closure": lambda: ancestor_closure(tree),
        "closure_known_small": lambda: ancestor_closure(tree, known_small=True),
        "pagerank": lambda: graph.pagerank_fixedpoint(edges),
        "bfs": lambda: graph.bfs_hops(edges, seeds),
        "sssp": lambda: graph.sssp_bounded(edges, seeds),
        "harmonic": lambda: graph.harmonic_centrality(edges, seeds),
        "ivf_topk": lambda: similarity.ivf_topk(
            vecs.where("vec_id % 10 = 0"), vecs, "vec_id", "vec_id", "embedding",
            k=3, n_cells=4, nprobe=2,
        ),
    }
    want = {k: sorted(run().collect()) for k, run in runs.items()}

    def _no_collect(df):
        raise AssertionError("fast path collected without driver headroom")

    monkeypatch.setattr(graph, "_arrow_numpy_cols", _no_collect)
    with distributed():
        for k, run in runs.items():
            assert sorted(run().collect()) == want[k], k
            assert want[k], k


def test_ancestor_closure_fast_path_matches_squaring(spark, distributed):
    # forest fast path must equal the repeated-squaring closure
    # (node, anc, dist) for trees and chains; a multi-parent DAG and a
    # cycle must route to (and in the cycle's case, be rejected by) the
    # distributed path
    import pytest as _pt

    from etl_wrap_spark.operators.incremental_join import ancestor_closure

    tree = [(i, i // 2) for i in range(2, 64)]
    chain = [(i, i - 1) for i in range(1, 40)]
    for raw in (tree, chain):
        edges = spark.createDataFrame(raw, "child LONG, parent LONG")
        fast = {(r.node, r.anc, r.dist) for r in ancestor_closure(edges).collect()}
        # fast == DISTRIBUTED parity pinned directly (round-8 ADVICE):
        # the ``distributed`` fixture forces the repeated-squaring path
        with distributed():
            dist = {(r.node, r.anc, r.dist)
                    for r in ancestor_closure(edges).collect()}
        assert fast == dist
        parent = dict(raw)
        want = set()
        for k in parent:
            a, d = parent[k], 1
            while True:
                want.add((k, a, d))
                if a not in parent:
                    break
                a, d = parent[a], d + 1
        assert fast == want
    dag = spark.createDataFrame(
        [(3, 1), (3, 2), (2, 1)], "child LONG, parent LONG"
    )  # node 3 has two parents; min-dist squaring keeps dist(3,1)=1
    got = {(r.node, r.anc): r.dist for r in ancestor_closure(dag).collect()}
    assert got == {(3, 1): 1, (3, 2): 1, (2, 1): 1}
    # a 2-cycle routes to the distributed squaring (the driver walk
    # detects it and bails); squaring converges to the full closure
    # incl. self-pairs at dist 2
    del _pt
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "child LONG, parent LONG")
    got = {(r.node, r.anc): r.dist for r in ancestor_closure(cyc).collect()}
    assert got == {(1, 2): 1, (2, 1): 1, (1, 1): 2, (2, 2): 2}


def test_flatten_hierarchy_fast_path_matches_doubling(spark, distributed):
    from etl_wrap_spark.operators.incremental_join import flatten_hierarchy

    tree = [(i, i // 2) for i in range(2, 128)]
    chain = [(i, i - 1) for i in range(1, 50)]
    for raw in (tree, chain):
        edges = spark.createDataFrame(raw, "child LONG, parent LONG")
        fast = {(r.node, r.root, r.depth)
                for r in flatten_hierarchy(edges).collect()}
        # fast == DISTRIBUTED parity pinned directly (round-8 ADVICE):
        # the ``distributed`` fixture forces the pointer-doubling path
        with distributed():
            dist = {(r.node, r.root, r.depth)
                    for r in flatten_hierarchy(edges).collect()}
        assert fast == dist
        parent = dict(raw)
        want = set()
        for k in parent:
            x, d = parent[k], 1
            while x in parent:
                x, d = parent[x], d + 1
            want.add((k, x, d))
        assert fast == want


def test_fold_accents_arrow_path_matches_python(spark):
    # round-9: fold_accents_df routes through pyarrow's C++ NFD +
    # \p{Mn}-strip kernels when the WORKER-side parity probe passes
    # (round-9 ADVICE moved the probe into the mapInArrow closure); the
    # two paths must agree row-for-row (incl. NULLs, empties, Hangul,
    # multi-mark clusters). The Python path is forced via use_arrow=False
    # — a closure-captured value is the only driver-side switch that
    # reaches the worker processes (poking the module memo does not).
    from etl_wrap_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "Mühleisen café ño"),
            (2, "Ångström"),
            (3, None),
            (4, ""),
            (5, "가각 ẹ́ ẛ̣ plain"),
        ],
        "doc_id LONG, text STRING",
    )
    assert T._arrow_nfd_strip_ok(), "this container's pyarrow must pass the probe"
    fast = {r.doc_id: r.folded
            for r in T.fold_accents_df(
                docs, "text", out_col="folded", use_arrow=True).collect()}
    slow = {r.doc_id: r.folded
            for r in T.fold_accents_df(
                docs, "text", out_col="folded", use_arrow=False).collect()}
    probed = {r.doc_id: r.folded
              for r in T.fold_accents_df(docs, "text", out_col="folded").collect()}
    assert fast == slow == probed
    assert fast[1] == "Muhleisen cafe no" and fast[3] is None


def test_interpolate_linear_skips_null_valued_observations(spark):
    """Round-10 ADVICE regression: a NULL-valued observation row must be
    interpolated ACROSS (the first(ignorenulls) semantics), not carried
    as a NULL successor by lead(); and a NULL-valued endpoint still
    anchors the default grid bounds."""
    from etl_wrap_spark.operators.asof import interpolate_linear
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    sec = lambda s: base + dt.timedelta(seconds=s)
    obs = spark.createDataFrame(
        [("k", sec(0), 10.0), ("k", sec(50), None), ("k", sec(100), 20.0),
         ("k", sec(150), None)],
        "key STRING, ts TIMESTAMP, v DOUBLE",
    )
    got = {r["ts"]: r["value_interp"] for r in interpolate_linear(
        obs, "key", "ts", "v", step="25 seconds").collect()}
    # null obs at t=50 bridged; null endpoint at t=150 extends the grid
    # but never supplies a value (no extrapolation past t=100)
    assert got[sec(0)] == 10.0 and got[sec(100)] == 20.0
    assert got[sec(25)] == 12.5 and got[sec(50)] == 15.0 and got[sec(75)] == 17.5
    assert got[sec(125)] is None and got[sec(150)] is None
    assert len(got) == 7


def test_connected_components_null_endpoint_fast_path_guard(spark, distributed):
    """A NULL edge endpoint would make Arrow render int64 ids as
    float64/NaN in the driver union-find collect: an edge with a NULL
    endpoint is ignored (its other endpoint is no node), a self-loop-only
    node is its own component, and both routes return the same rows."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, None), (3, 4), (None, 5), (7, 7)], "id_a LONG, id_b LONG"
    )
    want = {1: 1, 2: 1, 3: 3, 4: 3, 7: 7}
    got = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == want
    with distributed():
        got = {r["doc_id"]: r["component"]
               for r in dedup.connected_components(pairs).collect()}
    assert got == want


def test_ancestor_closure_known_small_matches_and_survives_wrong_bound(
    spark, monkeypatch, distributed
):
    """known_small=True skips the size-probe job but must return the
    identical closure; a WRONG caller bound (limit smaller than the
    forest) must fall through to the distributed squaring, not
    mislabel."""
    from etl_wrap_spark.operators import incremental_join
    from etl_wrap_spark.operators.incremental_join import ancestor_closure

    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(2, 10)], ["child", "parent"]
    )
    want = {(r["node"], r["anc"], r["dist"])
            for r in ancestor_closure(edges).collect()}
    fast = {(r["node"], r["anc"], r["dist"])
            for r in ancestor_closure(edges, known_small=True).collect()}
    assert fast == want
    monkeypatch.setattr(incremental_join, "HIERARCHY_DRIVER_LIMIT", 2)
    wrong = {(r["node"], r["anc"], r["dist"])
             for r in ancestor_closure(edges, known_small=True).collect()}
    assert wrong == want
