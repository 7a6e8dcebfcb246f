"""Unit tests for the LLM-pipeline operators (dedup/similarity/text/
multimodal) on small in-memory DataFrames with known answers."""

import math

import pyspark.sql.functions as F
import pytest

from torcdb_spark.functions.vector import cosine_similarity
from torcdb_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from torcdb_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    frame_sample,
)
from torcdb_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from torcdb_spark.operators.text import text_stats, quality_score


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the river bank today."),
        (2, "The quick brown fox jumps over the lazy dog near the river bank today."),  # exact dup of 1
        (3, "The quick brown fox jumps over the lazy dog near the river bank tonight."),  # near dup of 1
        (4, "Completely different content about machine learning pipelines and data."),
        (5, "   the QUICK brown fox jumps over the lazy dog near the river bank today. "),  # case/ws dup of 1
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = {r.doc_id: r.group_size for r in exact_dedup(docs).collect()}
    # 1,2,5 collapse (case/whitespace-normalized); 3,4,6 singletons
    assert out[1] == 3
    assert out[3] == 1
    assert out[4] == 1
    assert out[6] == 1
    assert 2 not in out and 5 not in out


def test_minhash_signature_shape_and_determinism(docs):
    sigs1 = {r.doc_id: r.sig for r in minhash_signatures(docs, num_perm=32).collect()}
    sigs2 = {r.doc_id: r.sig for r in minhash_signatures(docs, num_perm=32).collect()}
    assert sigs1 == sigs2  # deterministic across runs
    assert all(len(s) == 32 for s in sigs1.values())
    # identical docs → identical signatures
    assert sigs1[1] == sigs1[2]
    # near-dup shares most minhashes
    agree = sum(a == b for a, b in zip(sigs1[1], sigs1[3])) / 32
    assert agree > 0.5


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_lsh_dedup(docs, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs  # near dup found via LSH banding
    assert all(not (4 in p) for p in pairs)  # unrelated doc never paired


def test_ngram_jaccard_verification(spark, docs):
    cand = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"])
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, cand).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] > 0.6
    assert out[(1, 4)] < 0.2


def test_simhash_groups_exact_dups(docs):
    out = {r.doc_id: r.group_size for r in simhash_dedup(docs).collect()}
    assert out[1] >= 2  # 1 and 2 identical → same simhash


def test_cosine_similarity_column(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([0.0, 0.0], [1.0, 0.0])],
        ["a", "b"],
    )
    vals = df.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(vals[0].c - 0.0) < 1e-12
    assert abs(vals[1].c - 1.0) < 1e-12
    assert vals[2].c is None  # zero-norm → NULL, not NaN


def test_cosine_topk_bruteforce_known(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = cosine_topk_bruteforce(df, df.where("vec_id = 0"), k=2).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rnk)]
    assert ranked == [1, 2]


def test_cosine_topk_lsh_recall(spark, sf_dir):
    """LSH variant finds most of the brute-force top-1 neighbors."""
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200).cache()
    queries = emb.where("vec_id < 5")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, queries, k=1).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_lsh(emb, queries, k=5, num_bits=6, num_tables=6).collect()
    }
    hits = sum(1 for pair in exact if pair in approx)
    assert hits >= len(exact) // 2  # ≥50% top-1 recall with tiny tables


def test_text_stats_empty_and_basic(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! 42"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in text_stats(df).collect()}
    assert out[1].n_tokens == 3
    assert out[1].n_bpe_tokens == 5  # Hello , world ! 42
    assert out[1].n_punct == 2  # comma + exclamation
    assert out[2].n_tokens == 0
    assert out[3].n_tokens == 0


def test_quality_score_range(spark, sf_dir):
    from torcdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    qs = quality_score(docs)
    bad = qs.where((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0


def test_multimodal_feature_plumbing(spark, sf_dir):
    from torcdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = documents_as_media(docs)
    feats = extract_features(media, feature_dim=8).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.feature) == 8
        assert abs(sum(r.feature) - 1.0) < 1e-5  # normalized histogram
        assert r.n_bytes > 0


def test_frame_sample_plumbing(spark):
    rows = [(1, None, "video/mp4", None, None, 25), (2, None, "video/mp4", None, None, 3)]
    from torcdb_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = frame_sample(media, every_n=10)
    got = {(r.media_id, r.frame_idx) for r in out.collect()}
    assert got == {(1, 0), (1, 10), (1, 20), (2, 0)}


def test_asof_join_backward_ties_and_unmatched(spark):
    from datetime import datetime

    from torcdb_spark.operators.asof import asof_join

    t = datetime
    left = spark.createDataFrame(
        [(1, t(2024, 1, 1, 10, 0), "p1"),
         (1, t(2024, 1, 1, 12, 0), "p2"),
         (2, t(2024, 1, 1, 9, 0), "p3")],   # before any right row for key 2
        "k int, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, t(2024, 1, 1, 10, 0), 10.0),   # exact tie with p1 → matches
         (1, t(2024, 1, 1, 11, 0), 11.0),
         (2, t(2024, 1, 1, 9, 30), 9.5)],
        "k int, ts timestamp, v double",
    )
    out = {r["name"]: r for r in
           asof_join(left, right, on=["k"], right_cols=["v"]).collect()}
    assert out["p1"]["asof_v"] == 10.0          # ts >= right ts includes ties
    assert out["p2"]["asof_v"] == 11.0          # most recent, not first
    assert out["p3"]["asof_v"] is None          # nothing at-or-before → NULL
    assert out["p3"]["asof_ts"] is None


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from torcdb_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12, 0), "p")], "k int, ts timestamp, name string"
    )
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 0), 1.0)], "k int, ts timestamp, v double"
    )
    hit = asof_join(left, right, on=["k"], right_cols=["v"],
                    tolerance=F.expr("INTERVAL 4 HOURS")).collect()[0]
    assert hit["asof_v"] == 1.0
    miss = asof_join(left, right, on=["k"], right_cols=["v"],
                     tolerance=F.expr("INTERVAL 1 HOUR")).collect()[0]
    assert miss["asof_v"] is None and miss["asof_ts"] is None


def test_lang_id_markers_and_tiebreak(spark):
    from torcdb_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),        # en markers
         (2, "el perro y la casa el dia"),     # es markers
         (3, "der hund und der mann"),         # de markers
         (4, "le chat et le chien"),           # fr markers
         (5, "xyzzy plugh"),                   # nothing → und
         (6, "the el")],                       # ' the ' vs ' el ': no inner
                                               # spaces → counts depend on pad
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["p"] for r in
           df.select("doc_id", lang_id(F.col("text")).alias("p")).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "de"
    assert got[4] == "fr"
    assert got[5] == "und"


def test_cosine_near_dup_pairs(spark):
    from torcdb_spark.operators.similarity import cosine_near_dup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]),    # near-identical direction
         (3, [0.0, 1.0]),                      # orthogonal to 1 and 2
         (4, [-1.0, 0.0])],                    # opposite of 1
        "vec_id int, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]): r["score"]
             for r in cosine_near_dup_pairs(df, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] >= 0.99
    # id_a < id_b canonical orientation, no self-pairs
    all_pairs = cosine_near_dup_pairs(df, threshold=-1.0).collect()
    assert all(r["id_a"] < r["id_b"] for r in all_pairs)
    assert len(all_pairs) == 6  # C(4,2)


def test_winnowing_fingerprints(spark):
    from torcdb_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),  # identical
         (3, "a completely different sentence with other words"),
         (4, "xy")],                                          # shorter than k
        "doc_id int, text string",
    )
    fps = winnowing_fingerprints(df, k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # identical docs → identical fingerprint sets (determinism + correctness)
    assert by_doc[1] == by_doc[2]
    # different doc → different set (overwhelming probability)
    assert by_doc[1] != by_doc[3]
    # winnowing density ~2/(w+1): far fewer fps than k-grams
    n_grams = len("the quick brown fox jumps over the lazy dog") - 4
    assert 0 < len(by_doc[1]) < n_grams
    # degenerate short doc still yields exactly one fingerprint
    assert len(by_doc[4]) == 1


def test_approx_distinct_error_bound(spark, sf_dir):
    from torcdb_spark.queries import queries
    from torcdb_spark.sources.tables import load_table

    approx = {r["event_type"]: r["approx_users"]
              for r in queries()["q_approx_distinct"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {r["event_type"]: r["n"]
             for r in ev.groupBy("event_type")
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    assert set(approx) == set(exact)
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(1, 0.05 * n), (et, approx[et], n)


def test_ivf_topk_recall(spark, sf_dir):
    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    approx = ivf_topk(emb, q, k=5, num_centroids=8, nprobe=4)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    # every query answered with k candidates, scored exactly
    assert len(a) == len(e) == 50
    # nprobe=4 of 8 cells: at least half the exact neighbors found
    assert len(a & e) / len(e) >= 0.5
    # determinism: a second run returns the identical pair set
    a2 = {(r.query_id, r.neighbor_id)
          for r in ivf_topk(emb, q, k=5, num_centroids=8, nprobe=4).collect()}
    assert a == a2


# ---------------------------------------------------------------------------
# Real image decode kernels (PPM/BMP, pure numpy) — contract tests
# ---------------------------------------------------------------------------


def _ppm_bytes(pixels):
    """Build a P6 PPM from an (h, w, 3) uint8 array."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _bmp_bytes(pixels):
    """Build an uncompressed 24-bit bottom-up BMP from (h, w, 3) RGB."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = b""
    for r in range(h - 1, -1, -1):  # bottom-up
        row = arr[r][:, [2, 1, 0]].tobytes()  # RGB->BGR
        body += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    size = off + len(body)
    hdr = (b"BM" + size.to_bytes(4, "little") + b"\x00" * 4
           + off.to_bytes(4, "little")
           + (40).to_bytes(4, "little")
           + w.to_bytes(4, "little", signed=True)
           + h.to_bytes(4, "little", signed=True)
           + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
           + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
           + b"\x00" * 16)
    return hdr + body


def _test_pixels():
    import numpy as np

    return np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )


def test_decode_image_ppm_and_bmp_exact():
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image

    px = _test_pixels()
    np.testing.assert_array_equal(decode_image(_ppm_bytes(px)), px)
    np.testing.assert_array_equal(decode_image(_bmp_bytes(px)), px)


def test_decode_image_rejects_unknown_format():
    import pytest
    from torcdb_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError):
        decode_image(b"GIF89a not supported")  # dispatches, malformed body
    # well-formed container holding a LOSSY VP8 chunk: dispatches to the
    # WebP decoder, which refuses lossy by documented design
    lossy_body = b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + bytes(4)
    lossy = b"RIFF" + len(lossy_body).to_bytes(4, "little") + lossy_body
    with pytest.raises(NotImplementedError):
        decode_image(lossy)
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x01 genuinely unknown format")
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")  # PNG magic, no chunks
    with pytest.raises(ValueError):
        decode_image(_ppm_bytes(_test_pixels())[:-3])  # truncated body


def test_png_16bit_roundtrip():
    """16-bit PNG: uint16 input → big-endian samples, byte-level
    filters with the left neighbor bpp back, round-half-up rescale to
    the uint8 contract — exact across gray/RGB/RGBA × filters 0/1/2 ×
    both interlace modes."""
    import numpy as np

    from torcdb_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(21)
    for nch in (1, 3, 4):
        shape = (19, 23) if nch == 1 else (19, 23, nch)
        im16 = rng.integers(0, 65536, shape).astype(np.uint16)
        ref = (
            (im16.astype(np.uint32) * 255 + 32767) // 65535
        ).astype(np.uint8)
        if nch == 1:
            ref = ref[:, :, None]
        for ft in (0, 1, 2):
            for il in (0, 1):
                out = decode_image(
                    encode_png(im16, filter_type=ft, interlace=il)
                )
                assert np.array_equal(out, ref), (nch, ft, il)


def test_png_sub_byte_depths():
    """1/2/4-bit PNG: byte-level filters + MSB-first unpacking, exact
    gray expansion (255/(2^d-1) is a whole number), and a handcrafted
    4-bit PALETTE stream (independent of the encoder) decoding through
    the PLTE lookup."""
    import struct
    import zlib

    import numpy as np

    from torcdb_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(31)
    for d in (1, 2, 4):
        im = rng.integers(0, 1 << d, (13, 21)).astype(np.uint8)
        ref = (im * (255 // ((1 << d) - 1)))[:, :, None].astype(np.uint8)
        for ft in (0, 1, 2):
            for il in (0, 1):
                out = decode_image(
                    encode_png(im, filter_type=ft, interlace=il,
                               bit_depth=d)
                )
                assert np.array_equal(out, ref), (d, ft, il)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    # 3x2, 4-bit indices: row0 = 0,1,2; row1 = 3,0,1 (2 bytes/row + pad)
    rows = bytes([0, 0x01, 0x20]) + bytes([0, 0x30, 0x10])
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 4, 3, 0, 0, 0))
           + chunk(b"PLTE", pal)
           + chunk(b"IDAT", zlib.compress(rows))
           + chunk(b"IEND", b""))
    exp = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [255, 0, 0], [0, 255, 0]]],
        dtype=np.uint8,
    )
    assert np.array_equal(decode_image(png), exp)


def test_decode_png_roundtrip_all_encoder_filters():
    """encode_png(filter 0/1/2) → _decode_png is the identity on seeded
    random gray/RGB/RGBA images (exercises None/Sub/Up unfiltering and
    every supported channel count)."""
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(42)
    for nch in (1, 3, 4):
        px = rng.integers(0, 256, size=(5, 7, nch), dtype=np.uint8)
        for ft in (0, 1, 2):
            got = decode_image(encode_png(px, filter_type=ft))
            np.testing.assert_array_equal(got, px.reshape(5, 7, nch))


def test_decode_png_adam7_roundtrip():
    """encode_png(interlace=1) → _decode_png is the identity on seeded
    random images across channel counts, filter types, and awkward sizes
    (odd dims, dims < 8 where several Adam7 passes are EMPTY, 1×1 where
    only pass 1 exists, and an exact 8×8 tile)."""
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(7)
    for nch in (1, 3, 4):
        for hw in ((13, 9), (8, 8), (5, 3), (1, 1), (2, 11)):
            px = rng.integers(0, 256, size=(*hw, nch), dtype=np.uint8)
            for ft in (0, 1, 2):
                got = decode_image(encode_png(px, filter_type=ft,
                                              interlace=1))
                np.testing.assert_array_equal(got, px, err_msg=f"{nch}{hw}{ft}")


def test_decode_png_adam7_palette_and_scatter_order():
    """Adam7 + palette: indices deinterlace BEFORE the PLTE gather; and
    the pass scatter must place pixels by the spec grid — checked against
    a hand-built 8×8 where pixel (y, x)'s palette index encodes (y, x),
    so any misplacement is visible."""
    import struct
    import zlib

    import numpy as np
    from torcdb_spark.operators.multimodal import _ADAM7, decode_image, encode_png

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    h = w = 8
    idx = (np.arange(h)[:, None] * w + np.arange(w)[None, :]).astype(np.uint8)
    # stream the seven passes of the INDEX plane, filter 0
    parts = []
    for x0, y0, dx, dy in _ADAM7:
        sub = idx[y0::dy, x0::dx]
        for row in sub:
            parts.append(b"\x00" + row.tobytes())
    pal = bytes(
        v for i in range(64) for v in (i, 255 - i, (7 * i) % 256)
    )
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1))
           + chunk(b"PLTE", pal)
           + chunk(b"IDAT", zlib.compress(b"".join(parts)))
           + chunk(b"IEND", b""))
    got = decode_image(png)
    exp = np.frombuffer(pal, dtype=np.uint8).reshape(64, 3)[idx]
    np.testing.assert_array_equal(got, exp)
    # and the encoder emits the byte-identical pass layout the spec fixes
    assert encode_png(idx[:, :, None], interlace=1).count(b"IDAT") == 1


def test_whash64_matches_pure_python_replay():
    """whash64 is integer-exact by construction: a numpy-free pure-Python
    replay (nested loops, int arithmetic, explicit 32nd-smallest AC
    threshold, two's-complement packing) must reproduce it bit-for-bit on
    seeded random images — gray 2D, RGB, RGBA, and non-square sizes."""
    import numpy as np
    from torcdb_spark.operators.multimodal import whash64

    def replay(img):
        hh = len(img)
        ww = len(img[0])
        ch = len(img[0][0]) if isinstance(img[0][0], (list, tuple)) else 0
        luma = [
            [
                (299 * px[0] + 587 * px[1] + 114 * px[2])
                if ch >= 3 else 1000 * (px[0] if ch else px)
                for px in row
            ]
            for row in img
        ]
        l8 = [
            [luma[(y * hh) // 8][(x * ww) // 8] for x in range(8)]
            for y in range(8)
        ]
        coeffs = []
        for u in range(8):
            for v in range(8):
                s = 0
                for y in range(8):
                    for x in range(8):
                        par = (bin(y & u).count("1")
                               + bin(x & v).count("1")) % 2
                        s += -l8[y][x] if par else l8[y][x]
                coeffs.append(s)
        med = sorted(coeffs[1:])[31]
        h = 0
        for c in coeffs:
            h = (h << 1) | (1 if c > med else 0)
        return h - (1 << 64) if h >= 1 << 63 else h

    rng = np.random.default_rng(11)
    for shape in ((8, 16, 3), (8, 8), (5, 9, 4), (32, 32, 3)):
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert whash64(px) == replay(px.tolist()), shape


def test_decode_png_average_and_paeth_hand_computed():
    """Average/Paeth scanlines hand-built + hand-unfiltered (RFC 2083
    filter definitions) — the decoder must reproduce the manual recon."""
    import struct
    import zlib

    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image

    # 3x2 gray: row0 Average(3) on [10,20,30], row1 Paeth(4) on [5,5,5]
    raw = bytes([3, 10, 20, 30]) + bytes([4, 5, 5, 5])

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    got = decode_image(png)
    # row0: a-only averages: 10, 20+10//2=25, 30+25//2=42
    # row1: Paeth preds from prev row [10,25,42]: 15, 30, 47
    np.testing.assert_array_equal(
        got, np.array([[10, 25, 42], [15, 30, 47]], dtype=np.uint8)[:, :, None]
    )


def test_decode_png_rejects_unsupported_variants():
    import struct
    import zlib

    import numpy as np
    import pytest
    from torcdb_spark.operators.multimodal import decode_image, encode_png

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    # 16-bit gray decodes now (see test_png_16bit_roundtrip); 1x1 with
    # sample 0xFFFF → 255 after the round-half-up rescale
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\xff\xff"))
           + chunk(b"IEND", b""))
    assert decode_image(png)[0, 0, 0] == 255
    # sub-byte RGB is not a legal/supported combination; nor is 16-bit
    # with a palette (sub-byte gray/palette ARE supported — see
    # test_png_sub_byte_depths)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 2, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        decode_image(png)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(NotImplementedError):
        decode_image(png)
    # paletted PNG missing its PLTE chunk is malformed, not unsupported
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_image(png)
    # truncated pixel stream: IDAT inflates to fewer bytes than h*(stride+1)
    ok = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    full_raw = bytes(4 * (4 * 3 + 1))  # 4 filter-0 scanlines of zeros
    truncated = ok.replace(zlib.compress(full_raw), zlib.compress(full_raw[:5]))
    assert truncated != ok  # the substitution must have matched
    with pytest.raises(ValueError):
        decode_image(truncated)


def test_resize_nearest_shapes_and_values():
    import numpy as np
    from torcdb_spark.operators.multimodal import resize_nearest

    px = _test_pixels()
    up = resize_nearest(px, 4, 6)
    assert up.shape == (4, 6, 3)
    # 2x upscale replicates each source pixel
    np.testing.assert_array_equal(up[0, 0], px[0, 0])
    np.testing.assert_array_equal(up[3, 5], px[1, 2])
    down = resize_nearest(up, 2, 3)
    np.testing.assert_array_equal(down, px)


def test_decode_and_featurize_spark_path(spark):
    """End-to-end through mapInPandas: real decode of PPM + BMP payloads,
    NULL-features row for an undecodable payload (batch must not fail)."""
    import numpy as np
    from torcdb_spark.operators.multimodal import MEDIA_SCHEMA, decode_and_featurize

    from torcdb_spark.operators.multimodal import encode_png

    px = _test_pixels()
    rows = [
        (1, bytearray(_ppm_bytes(px)), "image/x-portable-pixmap", None, None, None),
        (2, bytearray(_bmp_bytes(px)), "image/bmp", None, None, None),
        (3, bytearray(  # well-formed container, LOSSY VP8 chunk: raises
            b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
            + b"VP8 " + (4).to_bytes(4, "little") + bytes(4)
        ), "image/webp", None, None, None),
        (4, bytearray(encode_png(px, filter_type=2)), "image/png",
         None, None, None),
        (5, bytearray(encode_png(px, filter_type=1, interlace=1)),
         "image/png", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in decode_and_featurize(media).collect()}
    exp_mean = {c: round(float(px[:, :, i].astype(np.float64).mean()), 4)
                for i, c in enumerate(("mean_r", "mean_g", "mean_b"))}
    for mid in (1, 2, 4, 5):
        r = out[mid]
        assert (r.width, r.height, r.channels) == (3, 2, 3)
        assert r.mean_r == exp_mean["mean_r"]
        assert r.mean_g == exp_mean["mean_g"]
        assert r.mean_b == exp_mean["mean_b"]
        assert abs(sum(r.luma_hist) - 1.0) < 1e-6
        assert r.decode_err is None
    assert out[3].decode_err == "NotImplementedError"  # WebP: no codec
    assert out[3].width is None


def test_decode_and_featurize_grayscale(spark):
    """Gray (c=1) and gray+alpha (c=2) PNGs decode to real features: the
    gray channel is each of R, G and B, and the luminance is the gray
    level itself."""
    import numpy as np
    from torcdb_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
        encode_png,
    )

    rng = np.random.default_rng(7)
    imgs = {c: rng.integers(0, 256, size=(8, 8, c), dtype=np.uint8) for c in (1, 2)}
    media = spark.createDataFrame(
        [(c, bytearray(encode_png(im)), "image/png", None, None, None)
         for c, im in imgs.items()],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in decode_and_featurize(media).collect()}
    for c, im in imgs.items():
        r = out[c]
        gray = im[:, :, 0].astype(np.float64)
        mean = round(float(gray.mean()), 4)
        hist = np.histogram(gray, bins=8, range=(0, 256))[0] / gray.size
        assert r.decode_err is None
        assert (r.width, r.height, r.channels) == (8, 8, c)
        assert r.mean_r == r.mean_g == r.mean_b == mean
        assert r.luma_hist == pytest.approx(hist.tolist(), abs=1e-6)


def test_salted_join_equals_plain_join(spark):
    import pyspark.sql.functions as F
    from torcdb_spark.operators.skew import salted_join

    # skewed: one hot key with 500 rows, others with 1
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 50)],
        "k long, payload long",
    )
    small = spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 50)], "k long, val string"
    )
    got = salted_join(big, small, on="k", salt_buckets=4)
    exp = big.join(small, "k")
    assert got.count() == exp.count()
    ga = got.groupBy("k").agg(F.count("*").alias("n")).collect()
    ea = exp.groupBy("k").agg(F.count("*").alias("n")).collect()
    assert {(r.k, r.n) for r in ga} == {(r.k, r.n) for r in ea}
    # left join keeps unmatched big rows exactly once
    lg = salted_join(big, small.where("k >= 10"), on="k",
                     salt_buckets=4, how="left")
    le = big.join(small.where("k >= 10"), "k", "left")
    assert lg.count() == le.count()
    # force the salted-shuffle regime (broadcast bar off) and re-assert
    # the identical output — the tiny fixtures otherwise take the
    # broadcast fast path and the salt machinery goes untested
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        salted = salted_join(big, small, on="k", salt_buckets=4)
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
        sa = salted.groupBy("k").agg(F.count("*").alias("n")).collect()
        assert {(r.k, r.n) for r in sa} == {(r.k, r.n) for r in ea}
        lg2 = salted_join(big, small.where("k >= 10"), on="k",
                          salt_buckets=4, how="left")
        assert lg2.count() == le.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_salted_join_rejects_outer(spark):
    import pytest
    from torcdb_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 1)], "k long, payload long")
    small = spark.createDataFrame([(1, "v")], "k long, val string")
    # right/full outer would replicate unmatched small-side rows per bucket
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, on="k", salt_buckets=4, how=how)


def test_tfidf_hand_computed(spark):
    import math
    from torcdb_spark.operators.text import tfidf

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.term): (r.tf, r.tfidf) for r in tfidf(docs).collect()}
    n = 3
    # apple: df=1, doc1 tf=2 ; banana df=2 ; date df=1
    assert rows[(1, "apple")] == (2, round(2 * math.log(n / 1), 4))
    assert rows[(1, "banana")] == (1, round(1 * math.log(n / 2), 4))
    assert rows[(3, "date")] == (1, round(1 * math.log(n / 1), 4))
    assert rows[(3, "cherry")][0] == 2
    # top_terms bounds and orders deterministically
    top1 = tfidf(docs, top_terms=1).collect()
    assert len(top1) == 3
    # doc2: banana/cherry tie at ln(3/2) -> term-asc tiebreak picks banana;
    # doc3: date 1*ln(3) = 1.0986 beats cherry 2*ln(3/2) = 0.8109
    assert {(r.doc_id, r.term) for r in top1} == {
        (1, "apple"), (2, "banana"), (3, "date")}


def test_vector_mean_grouped_agg(spark):
    import numpy as np
    import pyspark.sql.functions as F
    from torcdb_spark.functions import vector_mean

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [10.0, 20.0])],
        "g long, v array<float>",
    )
    got = {r.g: r.c for r in
           df.groupBy("g").agg(vector_mean()(F.col("v")).alias("c")).collect()}
    np.testing.assert_allclose(got[1], [2.0, 3.0])
    np.testing.assert_allclose(got[2], [10.0, 20.0])


def test_chunk_documents_boundaries(spark):
    from torcdb_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    out = {(r.doc_id, r.chunk_idx): r.chunk
           for r in chunk_documents(docs, chunk_chars=4, overlap=1).collect()}
    # stride 3: starts 1,4,7 for len 10 (greatest(10-1,1)=9 -> 1,4,7)
    assert out[(1, 0)] == "abcd"
    assert out[(1, 1)] == "defg"
    assert out[(1, 2)] == "ghij"
    assert out[(2, 0)] == "x"          # short doc -> one short chunk
    assert not any(k[0] == 3 for k in out)  # empty doc -> no chunks
    # overlap property: consecutive chunks share `overlap` chars
    assert out[(1, 0)][-1] == out[(1, 1)][0]


def test_redact_pii_counts(spark):
    from torcdb_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [(1, "mail me at a.b@example.com or call 12345678 now"),
         (2, "no pii here, just 123"),
         (3, "two mails x@y.io z@w.co and 99999999999")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].clean_text == "mail me at <EMAIL> or call <NUMBER> now"
    assert out[1].n_redactions == 2
    assert out[2].clean_text == "no pii here, just 123"  # short digits kept
    assert out[2].n_redactions == 0
    assert out[3].n_redactions == 3


def test_unicode_nfc_census(spark):
    from torcdb_spark.operators.text import unicode_nfc

    decomposed = "cafe\u0301"  # 'cafe' + combining acute: 5 cps
    composed = "caf\u00e9"  # 'caf' + e-acute: 4 cps, already NFC
    no_compose = "b\u0327"  # b + combining cedilla: no composed form
    docs = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, "plain ascii"),
         (4, "a\u030a " + no_compose)],  # a+ring composes, b+cedilla stays
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unicode_nfc(docs).collect()}
    assert out[1].nfc_text == composed
    assert (out[1].n_chars_in, out[1].n_chars_nfc) == (5, 4)
    assert out[1].changed
    assert out[2].nfc_text == composed and not out[2].changed
    assert out[3].nfc_text == "plain ascii" and not out[3].changed
    assert out[4].nfc_text == "\u00e5 " + no_compose
    assert (out[4].n_chars_in, out[4].n_chars_nfc) == (5, 4)


def test_hash_sample_deterministic_and_stratified(spark, sf_dir):
    import pyspark.sql.functions as F
    from torcdb_spark.operators.text import hash_sample
    from torcdb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in hash_sample(docs, 10, strata_col="lang").collect()}
    b = {r.doc_id for r in
         hash_sample(docs.repartition(7), 10, strata_col="lang").collect()}
    assert a == b  # invariant to physical layout
    # rate in the right ballpark overall (10% ± binomial slack)
    n = docs.count()
    assert 0.03 * n <= len(a) <= 0.2 * n
    # nested rates: 5% sample is a subset of the 10% sample per strata hash
    c = {r.doc_id for r in hash_sample(docs, 5, strata_col="lang").collect()}
    assert c <= a


# --- range_join (bin-bucketed interval join) -------------------------------


def test_range_join_keyed_matches_naive(spark):
    """Binned equi-join result == naive BETWEEN join, including a window
    spanning multiple bins and an exact-boundary point."""
    from torcdb_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [(1, 0.0), (1, 5.0), (1, 10.0), (1, 25.0), (2, 5.0), (3, 7.0)],
        "k int, x double",
    )
    iv = spark.createDataFrame(
        [(1, 0.0, 10.0, "a"), (1, 24.0, 26.0, "b"), (2, 6.0, 9.0, "c")],
        "k int, lo double, hi double, tag string",
    )
    got = range_join(
        pts, iv, point_col="x", start_col="lo", end_col="hi", bin_width=4.0,
        on=["k"],
    )
    rows = {(r.k, r.x, r.tag) for r in got.collect()}
    # naive: k-equal and lo <= x <= hi
    assert rows == {(1, 0.0, "a"), (1, 5.0, "a"), (1, 10.0, "a"), (1, 25.0, "b")}
    # each qualifying pair exactly once despite interval 'a' spanning 3 bins
    assert got.count() == 4


def test_range_join_keyless_and_bounds(spark):
    from torcdb_spark.operators.range_join import range_join

    pts = spark.createDataFrame([(1, 2.0), (2, 3.0), (3, 9.0)], "pid int, x double")
    iv = spark.createDataFrame(
        [(10, 2.0, 3.0), (11, 8.0, 7.0)], "iid int, lo double, hi double"
    )  # second interval is inverted → dropped
    inner = range_join(pts, iv, "x", "lo", "hi", bin_width=2.0)
    assert {(r.pid, r.iid) for r in inner.collect()} == {(1, 10), (2, 10)}
    # exclusive end drops the x == hi match
    excl = range_join(pts, iv, "x", "lo", "hi", bin_width=2.0, include_end=False)
    assert {(r.pid, r.iid) for r in excl.collect()} == {(1, 10)}
    # left join keeps unmatched points with null interval side
    left = range_join(pts, iv, "x", "lo", "hi", bin_width=2.0, how="left")
    assert left.count() == 3
    assert left.where(F.col("iid").isNull()).count() == 1


def test_range_join_timestamps_exact_micros(spark):
    from torcdb_spark.operators.range_join import range_join

    pts = spark.createDataFrame(
        [("2024-01-01 00:59:59.999999",), ("2024-01-01 01:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 00:59:59.999999")], "lo string, hi string"
    ).select(
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    got = range_join(pts, iv, "ts", "lo", "hi", bin_width=3600)
    assert got.count() == 1  # sub-second boundary resolved exactly


def test_range_join_plan_is_equi_join(spark):
    """The point of the operator: the physical plan must be a hash/merge
    equi-join, NOT BroadcastNestedLoopJoin/CartesianProduct."""
    from torcdb_spark.operators.range_join import range_join

    pts = spark.range(100).select(F.col("id").cast("double").alias("x"))
    iv = spark.range(10).select(
        (F.col("id") * 10.0).alias("lo"), (F.col("id") * 10.0 + 5.0).alias("hi")
    )
    plan = range_join(pts, iv, "x", "lo", "hi", bin_width=10.0)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# --- timeseries rollup / gap_fill ------------------------------------------


def test_time_bucket_and_rollup(spark):
    from torcdb_spark.operators.timeseries import rollup

    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0),
         ("2024-01-01 00:50:00", "a", 2.0),
         ("2024-01-01 02:10:00", "a", 4.0)],
        "ts string, k string, v double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "k", "v")
    got = {
        (str(r.bucket), r.k): r.s
        for r in rollup(df, "ts", 3600, ["k"], [F.sum("v").alias("s")]).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "a"): 3.0,
        ("2024-01-01 02:00:00", "a"): 4.0,
    }


def test_gap_fill_locf_and_null(spark):
    from torcdb_spark.operators.timeseries import gap_fill, rollup

    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "a", 1.0),
         ("2024-01-01 03:00:00", "a", 8.0),
         ("2024-01-01 01:00:00", "b", 5.0)],
        "ts string, k string, v double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "k", "v")
    rolled = rollup(df, "ts", 3600, ["k"], [F.sum("v").alias("v")])

    dense_null = gap_fill(rolled, "bucket", 3600, ["k"], ["v"], method="null")
    a = sorted(
        (str(r.bucket), r.v) for r in dense_null.where(F.col("k") == "a").collect()
    )
    assert a == [
        ("2024-01-01 00:00:00", 1.0),
        ("2024-01-01 01:00:00", None),
        ("2024-01-01 02:00:00", None),
        ("2024-01-01 03:00:00", 8.0),
    ]

    dense = gap_fill(rolled, "bucket", 3600, ["k"], ["v"], method="locf")
    a = sorted((str(r.bucket), r.v) for r in dense.where(F.col("k") == "a").collect())
    assert a == [
        ("2024-01-01 00:00:00", 1.0),
        ("2024-01-01 01:00:00", 1.0),
        ("2024-01-01 02:00:00", 1.0),
        ("2024-01-01 03:00:00", 8.0),
    ]
    # single-bucket key: spine is that one bucket, nothing invented
    b = [(str(r.bucket), r.v) for r in dense.where(F.col("k") == "b").collect()]
    assert b == [("2024-01-01 01:00:00", 5.0)]


def test_simhash_near_dup_pairs_finds_small_hamming(spark):
    from torcdb_spark.operators.dedup import simhash_near_dup_pairs
    import pytest as _pytest

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest while the moon rises slowly")
    near = base.replace("slowly", "quickly")  # small perturbation
    far = ("completely different content about database engines shuffling "
           "partitions across executors with adaptive query execution on")
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_dup_pairs(docs, max_hamming=10, bands=16).collect()}
    assert (1, 2) in pairs          # near-dup found
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # identical docs -> hamming 0
    dup = spark.createDataFrame([(1, base), (2, base)], "doc_id long, text string")
    got = simhash_near_dup_pairs(dup, max_hamming=0, bands=4).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(dup, max_hamming=4, bands=4)
    with _pytest.raises(ValueError):
        simhash_near_dup_pairs(dup, max_hamming=2, bands=5)


def test_quantized_topk_recall_vs_exact(spark, sf_dir):
    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_quantized,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    quant = cosine_topk_quantized(emb, q, k=5)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    qz = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall = len(ex & qz) / len(ex)
    assert recall >= 0.9, f"int8 recall {recall}"
    # scores approximate cosine closely on unit vectors
    sc = {(r.query_id, r.neighbor_id): r.score for r in quant.collect()}
    se = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    common = ex & qz
    err = max(abs(sc[p] - se[p]) for p in common)
    assert err < 0.02, f"max |quantized - exact| = {err}"


def test_quantize_unit_vectors_zero_safe(spark):
    from torcdb_spark.operators.similarity import quantize_unit_vectors

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = {r.vec_id: r.qvec for r in quantize_unit_vectors(df).collect()}
    assert rows[1] == [round(0.6 * 127), round(0.8 * 127)]
    assert rows[2] == [0, 0]  # zero vector does not divide by zero


def test_wav_roundtrip_and_features_hand_computed():
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_wav, encode_wav_pcm

    # 8-bit: alternating max/min around the 128 midpoint -> zcr = 1.0
    payload = encode_wav_pcm(bytes([255, 0, 255, 0]), sample_rate=4, bits=8)
    rate, x = decode_wav(payload)
    assert rate == 4 and len(x) == 4
    np.testing.assert_allclose(x, [127 / 128, -1.0, 127 / 128, -1.0])
    # 16-bit stereo mixes to mono
    st = np.array([[1000, 3000], [-2000, -4000]], dtype=np.int16).ravel()
    rate2, x2 = decode_wav(encode_wav_pcm(st, sample_rate=8000, bits=16, channels=2))
    np.testing.assert_allclose(x2, [2000 / 32768, -3000 / 32768])
    # chunk walking skips unknown chunks (inject a LIST before data)
    import struct
    raw = encode_wav_pcm(bytes([1, 2, 3]), 8000, 8)
    fmt_end = raw.index(b"data")
    junk = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = raw[:fmt_end] + junk + raw[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    rate3, x3 = decode_wav(patched)
    assert len(x3) == 3


def test_decode_wav_rejects_non_pcm_and_garbage():
    import struct
    import pytest as _pytest
    from torcdb_spark.operators.multimodal import decode_wav, encode_wav_pcm

    with _pytest.raises(ValueError):
        decode_wav(b"not a wave file at all")
    # format tag 2 (ADPCM) -> documented NotImplementedError
    raw = bytearray(encode_wav_pcm(bytes([1, 2]), 8000, 8))
    fmt_at = raw.index(b"fmt ") + 8
    raw[fmt_at : fmt_at + 2] = struct.pack("<H", 2)
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(raw))


def test_mp3_frame_census():
    """Header-walk census against hand-computed ISO 11172-3/13818-3
    arithmetic: frame lengths per layer/version, ID3v2 syncsafe skip
    (incl. the footer flag), padding bit, VBR (bitrate varies
    per-frame), truncated-final-frame exclusion, ID3v1 trailer stop,
    junk tolerance before the first frame, and the ValueError contract
    on streams with no valid frame."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        encode_mp3_stream,
        mp3_frame_census,
    )

    # MPEG1 Layer III, 128 kbps @ 44100: frame = 144000*128//44100 = 417
    c = mp3_frame_census(encode_mp3_stream(5, bitrate_idx=9))
    assert c["n_frames"] == 5
    assert c["bitrate_kbps"] == 128 and c["sample_rate"] == 44100
    assert c["total_bytes"] == 5 * 417
    assert c["duration_ms"] == 5 * 1152 * 1000 // 44100
    assert c["version"] == 1 and c["layer"] == 3

    # padding bit adds one byte per frame
    cp = mp3_frame_census(encode_mp3_stream(3, bitrate_idx=9, padding=1))
    assert cp["total_bytes"] == 3 * 418

    # MPEG2 Layer III halves samples/frame and uses the 72-factor
    c2 = mp3_frame_census(
        encode_mp3_stream(4, bitrate_idx=5, samplerate_idx=1, version=2)
    )
    assert c2["sample_rate"] == 24000 and c2["bitrate_kbps"] == 40
    assert c2["total_bytes"] == 4 * (72000 * 40 // 24000)
    assert c2["duration_ms"] == 4 * 576 * 1000 // 24000

    # MPEG2.5 and the other layers
    c25 = mp3_frame_census(
        encode_mp3_stream(2, bitrate_idx=1, samplerate_idx=2, version=25)
    )
    assert c25["version"] == 25 and c25["sample_rate"] == 8000
    cl1 = mp3_frame_census(encode_mp3_stream(2, bitrate_idx=4, layer=1))
    assert cl1["layer"] == 1
    assert cl1["total_bytes"] == 2 * (12000 * 128 // 44100) * 4
    assert cl1["duration_ms"] == 2 * 384 * 1000 // 44100
    cl2 = mp3_frame_census(encode_mp3_stream(2, bitrate_idx=4, layer=2))
    assert cl2["layer"] == 2
    assert cl2["total_bytes"] == 2 * (144000 * 64 // 44100)

    # ID3v2 skip: 10-byte header + body, syncsafe size
    big = encode_mp3_stream(3, bitrate_idx=9, id3_body=300)
    ci = mp3_frame_census(big)
    assert ci["id3v2_bytes"] == 310 and ci["n_frames"] == 3
    assert ci["total_bytes"] == 310 + 3 * 417
    # footer flag adds 10 more bytes to the skip
    withf = bytearray(big)
    withf[5] |= 0x10
    withf[10 + 300 : 10 + 300] = bytes(10)
    assert mp3_frame_census(bytes(withf))["n_frames"] == 3

    # VBR: same version/layer/rate, different bitrate per frame
    vbr = encode_mp3_stream(1, bitrate_idx=9) + encode_mp3_stream(
        1, bitrate_idx=11
    )
    cv = mp3_frame_census(vbr)
    assert cv["n_frames"] == 2 and cv["bitrate_kbps"] == 128
    assert cv["total_bytes"] == 417 + 144000 * 192 // 44100

    # truncated final frame is not counted; ID3v1 trailer stops the walk
    tr = encode_mp3_stream(2, bitrate_idx=9)
    assert mp3_frame_census(tr[:-1])["n_frames"] == 1
    assert mp3_frame_census(tr + b"TAG" + bytes(125))["n_frames"] == 2
    # junk before the first frame is scanned past
    assert mp3_frame_census(b"\x00junk" + tr)["n_frames"] == 2

    for bad in (b"", b"\xff", b"no frames here at all" * 3,
                b"ID3" + bytes([4, 0, 0, 0, 0, 0, 0])):
        with _pytest.raises(ValueError):
            mp3_frame_census(bad)


def test_payload_rows_skips_malformed_and_fans_out(spark):
    """The census kernel at the DataFrame boundary: a dict parser gives
    one row per valid payload, a list parser one row per item, and a
    payload whose parser raises ValueError (truncated, junk) is dropped.
    An input with no rows, or with no valid row, gives an empty frame
    with the schema's columns."""
    from torcdb_spark.functions.payload import payload_rows
    from torcdb_spark.operators.multimodal import (
        ID3_TAGS_SCHEMA,
        MP3_CENSUS_SCHEMA,
        encode_id3v2,
        encode_mp3_stream,
        id3v2_text_frames,
        mp3_frame_census,
    )

    mp3 = encode_mp3_stream(3, bitrate_idx=9)
    tagged = encode_id3v2(
        [("TIT2", "title", 0), ("TPE1", "artist", 1), ("TALB", "album", 3)]
    ) + mp3
    ddl = "media_id long, payload binary"
    media = spark.createDataFrame(
        [(1, mp3), (2, mp3[:3]), (3, b"junk"), (4, tagged), (5, tagged[:20])],
        ddl,
    )
    c = mp3_frame_census(mp3)
    rows = payload_rows(media, mp3_frame_census, MP3_CENSUS_SCHEMA)
    assert rows.columns == [f.split()[0] for f in MP3_CENSUS_SCHEMA.split(",")]
    got = {r.media_id: r for r in rows.collect()}
    assert sorted(got) == [1, 4]  # 2 truncated, 3 junk, 5 no frame left
    assert (got[1].n_frames, got[1].bitrate_kbps, got[1].sample_rate,
            got[1].total_bytes, got[1].duration_ms) == (
        c["n_frames"], c["bitrate_kbps"], c["sample_rate"],
        c["total_bytes"], c["duration_ms"])
    tags = payload_rows(media, id3v2_text_frames, ID3_TAGS_SCHEMA)
    assert sorted(tuple(r) for r in tags.collect()) == [
        (4, "TALB", "album"), (4, "TIT2", "title"), (4, "TPE1", "artist"),
    ]  # 5's tag overruns its payload; 1-3 carry no tag
    empty = spark.createDataFrame([], ddl)
    bad = spark.createDataFrame([(2, mp3[:3]), (3, b"junk")], ddl)
    for frame in (empty, bad):
        out = payload_rows(frame, mp3_frame_census, MP3_CENSUS_SCHEMA)
        assert out.columns == rows.columns
        assert out.collect() == []


def test_synth_udf_passes_python_values(spark):
    """synth_udf calls its encoder once per row with Python ints, bools,
    strs and bytes, so an encoder needs no casts."""
    from torcdb_spark.functions.payload import synth_udf

    df = spark.createDataFrame(
        [(7, 3, True, "a", b"\x01")],
        "l long, i int, b boolean, s string, p binary",
    )
    synth = synth_udf(lambda *row: repr(
        [(type(v).__name__, v) for v in row]).encode())
    out = df.select(synth("l", "i", "b", "s", "p").alias("x")).first().x
    assert bytes(out) == repr([("int", 7), ("int", 3), ("bool", True),
                               ("str", "a"), ("bytes", b"\x01")]).encode()


def test_aac_adts_census():
    """ADTS header-walk census against hand-computed ISO 13818-7 §6.2
    arithmetic: 13-bit frame length, profile/rate/channel extraction,
    multi-raw-data-block sample counting, CRC-header (protection
    absent=0) walking, truncation, junk tolerance, and the ValueError
    contract."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        aac_adts_census,
        encode_adts_stream,
    )

    # LC profile @ 44100 stereo, 3 frames of 7+64 bytes
    c = aac_adts_census(encode_adts_stream(3))
    assert c["n_frames"] == 3 and c["profile"] == 1
    assert c["sample_rate"] == 44100 and c["channels"] == 2
    assert c["total_bytes"] == 3 * 71
    assert c["duration_ms"] == 3 * 1024 * 1000 // 44100

    # every samplerate index and channel config round-trips
    for sri in range(13):
        for ch in (1, 3, 7):
            ci = aac_adts_census(
                encode_adts_stream(2, 0, sri, ch, body_bytes=10)
            )
            assert ci["channels"] == ch and ci["n_frames"] == 2

    # CRC variant: protection_absent=0 (header 9 bytes, len includes CRC)
    raw = bytearray(encode_adts_stream(2, body_bytes=20))
    for off in (27, 0):  # back to front: the CRC insert shifts offsets
        raw[off + 1] &= 0xFE  # clear protection_absent
        # bump frame_length 27 -> 29 for the CRC word
        fl = 29
        raw[off + 3] = (raw[off + 3] & 0xFC) | ((fl >> 11) & 3)
        raw[off + 4] = (fl >> 3) & 0xFF
        raw[off + 5] = (raw[off + 5] & 0x1F) | ((fl & 7) << 5)
        raw[off + 7 : off + 7] = b"\x00\x00"  # the CRC word itself
    cc = aac_adts_census(bytes(raw))
    assert cc["n_frames"] == 2 and cc["total_bytes"] == 58

    # multiple raw data blocks multiply the sample count
    multi = bytearray(encode_adts_stream(1, body_bytes=12))
    multi[6] |= 0x02  # number_of_raw_data_blocks field = 2 -> 3 blocks
    cm = aac_adts_census(bytes(multi))
    assert cm["total_bytes"] == 19
    assert cm["duration_ms"] == 3 * 1024 * 1000 // 44100

    # truncated final frame excluded; junk prefix scanned past
    two = encode_adts_stream(2, body_bytes=16)
    assert aac_adts_census(two[:-1])["n_frames"] == 1
    assert aac_adts_census(b"junk!" + two)["n_frames"] == 2

    for bad in (b"", b"\xff\xf1", b"definitely not audio" * 4):
        with _pytest.raises(ValueError):
            aac_adts_census(bad)


def test_webp_lossy_info():
    """VP8 keyframe header parse per RFC 6386 §9.1: frame-tag bit
    unpacking (inverted keyframe flag, version, show_frame, 19-bit
    first-partition size), start-code check, 14-bit dims + scale codes,
    and the ValueError / VP8L-vs-VP8 dispatch contract."""
    import numpy as np
    import pytest as _pytest

    from torcdb_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
        encode_webp_lossy_stub,
        webp_lossy_info,
    )

    info = webp_lossy_info(encode_webp_lossy_stub(640, 480, version=2,
                                                  body_fill=5))
    assert info["width"] == 640 and info["height"] == 480
    assert info["version"] == 2 and info["show_frame"] == 1
    assert info["first_part_size"] == 21 and info["vp8_bytes"] == 31
    assert info["hscale"] == 0 and info["vscale"] == 0

    # extremes of the 14-bit dimension fields
    big = webp_lossy_info(encode_webp_lossy_stub(16383, 1))
    assert big["width"] == 16383 and big["height"] == 1

    # scale codes live in the top 2 bits
    raw = bytearray(encode_webp_lossy_stub(100, 200))
    raw[20 + 7] |= 0x40  # hscale code 1 on the width word
    sc = webp_lossy_info(bytes(raw))
    assert sc["width"] == 100 and sc["hscale"] == 1

    # a lossless container is not a lossy one, and vice versa
    img = np.zeros((4, 5, 3), np.uint8)
    with _pytest.raises(ValueError):
        webp_lossy_info(encode_webp_lossless(img))
    with _pytest.raises(NotImplementedError):
        decode_webp(encode_webp_lossy_stub(8, 8))

    bad_start = bytearray(encode_webp_lossy_stub(8, 8))
    bad_start[20 + 3] = 0x00
    with _pytest.raises(ValueError):
        webp_lossy_info(bytes(bad_start))
    # interframe (keyframe bit set to 1 = not a keyframe)
    inter = bytearray(encode_webp_lossy_stub(8, 8))
    inter[20] |= 1
    with _pytest.raises(ValueError):
        webp_lossy_info(bytes(inter))
    with _pytest.raises(ValueError):
        webp_lossy_info(b"not webp")
    # ADVICE r10: a chunk whose declared size overruns the payload must
    # raise (not silently truncate vp8_bytes/first_part_size)
    over = bytearray(encode_webp_lossy_stub(8, 8))
    over[16:20] = (10_000).to_bytes(4, "little")  # inflate VP8 size
    with _pytest.raises(ValueError):
        webp_lossy_info(bytes(over))
    with _pytest.raises(ValueError):
        decode_webp(bytes(over))


def test_lossy_census_roundtrip_property():
    """Property test over the three structural censuses: for ANY valid
    parameter combination, synth → census recovers exactly the
    parameters and the closed-form totals (lengths per ISO 11172-3 /
    13818-7 / RFC 6386), including with random trailing garbage that
    must stop the walk without corrupting the counts."""
    from hypothesis import given, settings, strategies as st

    from torcdb_spark.operators.multimodal import (
        _ADTS_RATES,
        _MP3_BITRATES,
        _MP3_SAMPLERATES,
        aac_adts_census,
        encode_adts_stream,
        encode_mp3_stream,
        mp3_frame_census,
    )
    from torcdb_spark.operators.webp import (
        encode_webp_lossy_stub,
        webp_lossy_info,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        nf=st.integers(1, 9),
        bri=st.integers(1, 14),
        sri=st.integers(0, 2),
        version=st.sampled_from([1, 2, 25]),
        layer=st.integers(1, 3),
        id3=st.integers(0, 200),
        pad=st.integers(0, 1),
        junk=st.binary(max_size=3),
    )
    def check_mp3(nf, bri, sri, version, layer, id3, pad, junk):
        data = encode_mp3_stream(nf, bri, sri, version, layer, id3, pad)
        c = mp3_frame_census(data + junk)
        vg = 1 if version == 1 else 2
        kbps = _MP3_BITRATES[(vg, layer)][bri]
        sr = _MP3_SAMPLERATES[version][sri]
        if layer == 1:
            flen, spf = (12000 * kbps // sr + pad) * 4, 384
        else:
            factor = 144 if (layer == 2 or version == 1) else 72
            flen = factor * 1000 * kbps // sr + pad
            spf = 1152 if (layer == 2 or version == 1) else 576
        # trailing junk may only ADD frames if it happens to be a valid
        # same-stream header — with <=3 junk bytes it can't complete one
        assert c["n_frames"] == nf
        assert c["bitrate_kbps"] == kbps and c["sample_rate"] == sr
        assert c["total_bytes"] == (10 + id3 if id3 else 0) + nf * flen
        assert c["duration_ms"] == nf * spf * 1000 // sr

    check_mp3()

    @settings(max_examples=60, deadline=None)
    @given(
        nf=st.integers(1, 6),
        profile=st.integers(0, 3),
        sri=st.integers(0, 12),
        ch=st.integers(1, 7),
        body=st.integers(0, 300),
        junk=st.binary(max_size=5),
    )
    def check_adts(nf, profile, sri, ch, body, junk):
        data = encode_adts_stream(nf, profile, sri, ch, body)
        c = aac_adts_census(data + junk)
        assert c["n_frames"] == nf and c["profile"] == profile
        assert c["sample_rate"] == _ADTS_RATES[sri] and c["channels"] == ch
        assert c["total_bytes"] == nf * (7 + body)
        assert c["duration_ms"] == nf * 1024 * 1000 // _ADTS_RATES[sri]

    check_adts()

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 16383),
        h=st.integers(1, 16383),
        version=st.integers(0, 7),
        fill=st.integers(0, 100),
    )
    def check_vp8(w, h, version, fill):
        info = webp_lossy_info(encode_webp_lossy_stub(w, h, version, fill))
        assert info["width"] == w and info["height"] == h
        assert info["version"] == version
        assert info["first_part_size"] == 16 + fill
        assert info["vp8_bytes"] == 26 + fill

    check_vp8()


def test_mp4_box_census():
    """ISO-BMFF box walk against hand-computed 14496-12 arithmetic:
    nested box recursion, mvhd v0/v1 timescale offsets, tkhd 16.16
    dimensions, handler-type track classification, largesize and
    size==0 forms, and the ValueError contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        encode_mp4_stub,
        mp4_box_census,
    )

    c = mp4_box_census(encode_mp4_stub(1000, 5000, 1, 2, 1280, 720, 40))
    assert c["major_brand"] == "isom"
    assert c["timescale"] == 1000 and c["duration"] == 5000
    assert c["duration_ms"] == 5000
    assert c["n_tracks"] == 3 and c["n_video"] == 1 and c["n_audio"] == 2
    assert c["width"] == 1280 and c["height"] == 720
    assert c["total_bytes"] == 148 + 173 * 3 + 40

    # no video track: dims stay None, duration still floor-divides
    c0 = mp4_box_census(encode_mp4_stub(600, 1001, 0, 1))
    assert c0["n_video"] == 0 and c0["width"] is None
    assert c0["duration_ms"] == 1001 * 1000 // 600

    # 64-bit largesize form on the mdat box
    raw = bytearray(encode_mp4_stub(1000, 100, 1, 0, 32, 16, 8))
    mdat_at = raw.rindex(b"mdat") - 4
    body = raw[mdat_at + 8 :]
    large = (
        (1).to_bytes(4, "big") + b"mdat"
        + (16 + len(body)).to_bytes(8, "big") + body
    )
    cl = mp4_box_census(bytes(raw[:mdat_at]) + large)
    assert cl["n_tracks"] == 1
    assert cl["total_bytes"] == mdat_at + len(large)

    # size==0 (extends to EOF) on the final box
    zero = bytearray(raw)
    zero[mdat_at : mdat_at + 4] = (0).to_bytes(4, "big")
    assert mp4_box_census(bytes(zero))["n_tracks"] == 1

    # mvhd version 1 (64-bit times) parses at the shifted offsets
    v1 = bytearray(encode_mp4_stub(1000, 7, 0, 0))
    mvhd_at = v1.index(b"mvhd")
    v1_body = (
        bytes([1, 0, 0, 0]) + bytes(16)
        + (250).to_bytes(4, "big") + (1000).to_bytes(8, "big")
        + v1[mvhd_at + 4 + 4 + 8 + 4 + 4 :  mvhd_at + 4 + 100]
    )
    new_mvhd = (8 + len(v1_body)).to_bytes(4, "big") + b"mvhd" + v1_body
    old_len = 108
    moov_at = v1.index(b"moov") - 4
    old_moov_size = int.from_bytes(v1[moov_at : moov_at + 4], "big")
    rebuilt = (
        bytes(v1[: moov_at])
        + (old_moov_size - old_len + len(new_mvhd) + 8 - 8).to_bytes(4, "big")
        + b"moov" + new_mvhd
        + bytes(v1[moov_at + 8 + old_len : ])
    )
    cv1 = mp4_box_census(rebuilt)
    assert cv1["timescale"] == 250 and cv1["duration"] == 1000
    assert cv1["duration_ms"] == 4000

    with _pytest.raises(ValueError):
        mp4_box_census(b"not an mp4 at all!!")
    with _pytest.raises(ValueError):  # box overruns payload
        trunc = encode_mp4_stub(1000, 100, 1, 0)
        mp4_box_census(trunc[: len(trunc) - 20])

    # ADVICE r10: mvhd/tkhd/hdlr bodies shorter than the fields read
    # must raise, not decode the next sibling's bytes as timescale/dims
    def box(btype, body):
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    ftyp = box(b"ftyp", b"isom" + bytes(8))
    with _pytest.raises(ValueError):  # 10-byte mvhd body (v0 needs 20)
        mp4_box_census(ftyp + box(b"moov", box(b"mvhd", bytes(10))
                                  + box(b"free", bytes(20))))
    good_mvhd = box(b"mvhd", bytes(100))  # v0, all-zero — timescale 0
    with _pytest.raises(ValueError):  # 40-byte tkhd body (v0 needs 84)
        mp4_box_census(ftyp + box(b"moov", good_mvhd
                                  + box(b"trak", box(b"tkhd", bytes(40))
                                        + box(b"free", bytes(50)))))
    with _pytest.raises(ValueError):  # 6-byte hdlr body (needs 12)
        mp4_box_census(ftyp + box(b"moov", good_mvhd
                                  + box(b"trak", box(b"tkhd", bytes(84))
                                        + box(b"mdia",
                                              box(b"hdlr", bytes(6))
                                              + box(b"free", bytes(8))))))


def test_flac_streaminfo_census():
    """FLAC metadata-chain walk against the 20/3/5/36-bit STREAMINFO
    packing (RFC 9639): field extraction at the extremes, PADDING-block
    chaining with the last-block flag, floor-division duration, and the
    ValueError contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        encode_flac_stub,
        flac_streaminfo_census,
    )

    c = flac_streaminfo_census(
        encode_flac_stub(16000, 1, 16, 160000, padding=0, frame_bytes=20)
    )
    assert c["sample_rate"] == 16000 and c["channels"] == 1
    assert c["bits_per_sample"] == 16
    assert c["total_samples"] == 160000 and c["duration_ms"] == 10000
    assert c["n_metadata_blocks"] == 1
    assert c["total_bytes"] == 4 + 4 + 34 + 20

    # padding block joins the chain; last-flag moves to it
    cp = flac_streaminfo_census(
        encode_flac_stub(44100, 2, 24, 44101, padding=7, frame_bytes=0)
    )
    assert cp["n_metadata_blocks"] == 2
    assert cp["duration_ms"] == 44101 * 1000 // 44100
    assert cp["total_bytes"] == 4 + 38 + 4 + 7

    # bit-field extremes: 8-channel 32-bit at a 2^20-1 rate, 36-bit count
    ce = flac_streaminfo_census(
        encode_flac_stub((1 << 20) - 1, 8, 32, (1 << 36) - 1)
    )
    assert ce["sample_rate"] == (1 << 20) - 1
    assert ce["channels"] == 8 and ce["bits_per_sample"] == 32
    assert ce["total_samples"] == (1 << 36) - 1

    for bad in (b"", b"fLaC", b"not flac at all" * 4,
                encode_flac_stub()[:30]):
        with _pytest.raises(ValueError):
            flac_streaminfo_census(bad)
    # a chain whose only block is PADDING (no STREAMINFO) is invalid
    no_si = b"fLaC" + bytes([0x81]) + (4).to_bytes(3, "big") + bytes(4)
    with _pytest.raises(ValueError):
        flac_streaminfo_census(no_si + bytes(8))


def test_id3v2_text_frames():
    """ID3v2 tag walk against the id3.org layouts: v3 plain vs v4
    syncsafe frame sizes, all four text encodings, NUL-terminator
    stripping, padding stop, non-text frame skip, extended headers,
    census interop (the MP3 walk skips the same tag), and the
    ValueError contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        encode_id3v2,
        encode_mp3_stream,
        id3v2_text_frames,
        mp3_frame_census,
    )

    frames = [("TIT2", "A Title", 0), ("TPE1", "Someone", 3)]
    for ver in (3, 4):
        tag = encode_id3v2(frames, version=ver, padding=13)
        got = id3v2_text_frames(tag + b"trailing audio bytes")
        assert got == [("TIT2", "A Title"), ("TPE1", "Someone")], ver

    # every encoding round-trips, including non-latin text where legal
    for enc, text in ((0, "caf\xe9"), (1, "ناب — ütf16"), (2, "✓ BE"),
                      (3, "emoji 🙂")):
        tag = encode_id3v2([("TALB", text, enc)])
        assert id3v2_text_frames(tag) == [("TALB", text)], enc

    # trailing NUL terminator is stripped; embedded text survives
    tag = bytearray(encode_id3v2([("TCON", "Rock", 0)]))
    tag[6:10] = bytes([(len(tag) - 10 + 1 >> s) & 0x7F
                       for s in (21, 14, 7, 0)])
    nul = bytes(tag) + b"\x00"
    assert id3v2_text_frames(nul) == [("TCON", "Rock")]

    # a non-text frame (PRIV) is skipped, following frames still parse
    priv = b"PRIV" + (4).to_bytes(4, "big") + b"\x00\x00" + b"data"
    t2 = encode_id3v2([("TIT2", "after", 0)])
    body = priv + t2[10:]
    size = bytes(((len(body) >> s) & 0x7F) for s in (21, 14, 7, 0))
    mixed = b"ID3" + bytes([3, 0, 0]) + size + body
    assert id3v2_text_frames(mixed) == [("TIT2", "after")]

    # interop: mp3_frame_census skips the same tag
    full = encode_id3v2(frames, version=4) + encode_mp3_stream(2, 9)
    c = mp3_frame_census(full)
    assert c["n_frames"] == 2 and c["id3v2_bytes"] == len(
        encode_id3v2(frames, version=4)
    )

    assert id3v2_text_frames(b"no tag here") == []
    with _pytest.raises(ValueError):  # frame overruns the tag
        bad = bytearray(encode_id3v2([("TIT2", "x", 0)]))
        bad[14] = 0x7F  # inflate the frame size
        id3v2_text_frames(bytes(bad))


def test_id3v22_and_unsynchronisation():
    """ADVICE r10: v2.2 tags (6-byte frame headers, 3-char IDs) must
    parse as v2.2, not be mis-walked with 10-byte v3 headers; tag-wide
    unsynchronisation (flag 0x80) must be reversed; unsupported
    versions raise instead of yielding garbage rows."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        encode_id3v2,
        encode_mp3_stream,
        id3v2_text_frames,
        mp3_frame_census,
    )

    # v2.2 round trip: 3-char IDs, 3-byte plain sizes, encodings 0/1
    frames = [("TT2", "Old Title", 0), ("TP1", "Söme\xff1", 1),
              ("TAL", "Album\xff", 0)]
    tag = encode_id3v2(frames, version=2, padding=7)
    got = id3v2_text_frames(tag + b"audio")
    assert got == [(f, t) for f, t, _ in frames]

    # tag-wide unsync (v2.2 and v2.3): the 'ÿ' bytes force real
    # 0xFF→0xFF00 stuffing, and the flagged tag de-unsyncs back
    for ver in (2, 3):
        fr = [(("TT2" if ver == 2 else "TIT2"), "a\xffb\xff", 1)]
        syn = encode_id3v2(fr, version=ver, unsync=True)
        assert syn[5] & 0x80
        assert len(syn) > len(encode_id3v2(fr, version=ver))
        assert id3v2_text_frames(syn) == [(fr[0][0], fr[0][1])]
        # the MP3 census skips the unsynced tag by its on-disk size
        c = mp3_frame_census(syn + encode_mp3_stream(1, 9))
        assert c["n_frames"] == 1 and c["id3v2_bytes"] == len(syn)

    # v2.4 per-frame unsync: frame format flag 0x02, on-disk sizes
    data = b"\x00a\xff\x00b"  # latin-1 'aÿb' with stuffing after FF
    body = b"TIT2" + bytes(((len(data) >> s) & 0x7F)
                           for s in (21, 14, 7, 0)) + b"\x00\x02" + data
    size = bytes(((len(body) >> s) & 0x7F) for s in (21, 14, 7, 0))
    v4 = b"ID3" + bytes([4, 0, 0]) + size + body
    assert id3v2_text_frames(v4) == [("TIT2", "a\xffb")]

    # v2.2 compression bit: spec says ignore the whole tag
    comp = bytearray(encode_id3v2([("TT2", "x", 0)], version=2))
    comp[5] |= 0x40
    assert id3v2_text_frames(bytes(comp)) == []

    # unsupported versions raise (no garbage rows)
    fut = bytearray(encode_id3v2([("TIT2", "x", 0)], version=3))
    fut[3] = 5
    with _pytest.raises(ValueError):
        id3v2_text_frames(bytes(fut))

    # encoder contracts: id length pinned to version, v2.2 enc 0/1 only
    with _pytest.raises(ValueError):
        encode_id3v2([("TIT2", "x", 0)], version=2)
    with _pytest.raises(ValueError):
        encode_id3v2([("TT2", "x", 2)], version=2)
    with _pytest.raises(ValueError):
        encode_id3v2([("TIT2", "x", 0)], version=4, unsync=True)


def test_ogg_page_census():
    """Ogg page walk against RFC 3533 arithmetic: capture pattern /
    BOS / version checks, lacing→packet counts, Opus 48 kHz-clock vs
    Vorbis own-rate duration, granule -1 skip, real page CRCs, and the
    ValueError contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        _ogg_crc,
        encode_ogg_stub,
        ogg_page_census,
    )

    # Opus: 3 audio pages x 2 packets of 960 samples at 48 kHz clock
    c = ogg_page_census(encode_ogg_stub(
        "opus", channels=2, sample_rate=44100, pre_skip=356,
        n_audio_pages=3, packets_per_page=2, packet_size=40))
    assert c["codec"] == "opus" and c["channels"] == 2
    assert c["sample_rate"] == 44100 and c["pre_skip"] == 356
    assert c["n_pages"] == 4 and c["n_packets"] == 7
    assert c["last_granule"] == 356 + 3 * 2 * 960
    assert c["duration_ms"] == 3 * 2 * 960 * 1000 // 48000
    assert c["total_bytes"] == 47 + 3 * (27 + 2 + 2 * 40)

    # Vorbis: duration over its own sample rate, pre_skip pinned 0
    v = ogg_page_census(encode_ogg_stub(
        "vorbis", channels=1, sample_rate=16000, pre_skip=0,
        n_audio_pages=2, packets_per_page=3, packet_size=25))
    assert v["codec"] == "vorbis" and v["pre_skip"] == 0
    assert v["n_pages"] == 3 and v["n_packets"] == 7
    assert v["last_granule"] == 2 * 3 * 1024
    assert v["duration_ms"] == 2 * 3 * 1024 * 1000 // 16000
    assert v["total_bytes"] == 58 + 2 * (27 + 3 + 3 * 25)

    # the fixture writes REAL page CRCs (RFC 3533 §6 non-reflected poly)
    raw = encode_ogg_stub("opus")
    page0_len = 27 + 1 + 19
    page0 = bytearray(raw[:page0_len])
    stored = int.from_bytes(page0[22:26], "little")
    page0[22:26] = bytes(4)
    assert stored == _ogg_crc(bytes(page0))

    # a granule of -1 (no packet ends) must not clobber last_granule
    g = bytearray(encode_ogg_stub("opus", n_audio_pages=2,
                                  packets_per_page=1, packet_size=10))
    last_at = len(g) - (27 + 1 + 10)
    g[last_at + 6 : last_at + 14] = (-1).to_bytes(8, "little", signed=True)
    gc = ogg_page_census(bytes(g))
    assert gc["last_granule"] == 312 + 1 * 1 * 960  # page 1's granule

    # contracts: not ogg / no BOS / bad version / truncation / bad ident
    with _pytest.raises(ValueError):
        ogg_page_census(b"not an ogg stream at all, honest")
    nobos = bytearray(encode_ogg_stub("opus"))
    nobos[5] = 0
    with _pytest.raises(ValueError):
        ogg_page_census(bytes(nobos))
    badver = bytearray(encode_ogg_stub("opus"))
    badver[4] = 1
    with _pytest.raises(ValueError):
        ogg_page_census(bytes(badver))
    with _pytest.raises(ValueError):
        ogg_page_census(encode_ogg_stub("vorbis")[:-5])
    badid = bytearray(encode_ogg_stub("opus"))
    badid[28:36] = b"FLACHEAD"
    with _pytest.raises(ValueError):
        ogg_page_census(bytes(badid))
    with _pytest.raises(ValueError):
        encode_ogg_stub("speex")
    with _pytest.raises(ValueError):
        encode_ogg_stub("opus", packet_size=255)


def test_webm_census():
    """EBML/Matroska walk against RFC 8794 vint arithmetic: mixed vint
    widths, marker-retaining IDs vs marker-stripped sizes, unknown-size
    segments, float32/float64 durations, track classification, and the
    ValueError contracts."""
    import struct as _struct

    import pytest as _pytest

    from torcdb_spark.operators.ebml import (
        _read_vint,
        encode_webm_stub,
        webm_census,
    )

    c = webm_census(encode_webm_stub("webm", 1_000_000, 5000, 1, 2,
                                     1280, 720, 3))
    assert c["doctype"] == "webm" and c["duration_ms"] == 5000
    assert c["n_tracks"] == 3 and c["n_video"] == 1 and c["n_audio"] == 2
    assert c["width"] == 1280 and c["height"] == 720
    assert c["n_clusters"] == 3 and c["timescale"] == 1_000_000

    # non-default timescale: 100 us ticks, duration in ticks scales back
    t = webm_census(encode_webm_stub("matroska", 100_000, 1234, 0, 1))
    assert t["doctype"] == "matroska" and t["duration_ms"] == 1234
    assert t["n_video"] == 0 and t["width"] is None

    # vint widths: 1-byte (0x81 -> 1), 2-byte, marker stripped for sizes
    assert _read_vint(b"\x81", 0, False) == (1, 1)
    assert _read_vint(b"\x40\x7f", 0, False) == (0x7F, 2)
    assert _read_vint(b"\x1a\x45\xdf\xa3", 0, True) == (0x1A45DFA3, 4)
    assert _read_vint(b"\xff", 0, False) == (None, 1)  # unknown size

    # unknown-size Segment (live-stream form) extends to EOF
    raw = bytearray(encode_webm_stub("webm", 1_000_000, 10, 1, 0, 32, 16))
    seg_at = raw.index(b"\x18\x53\x80\x67")
    # the stub's segment size vint starts right after the 4-byte ID;
    # replace it with the 1-byte unknown marker (0xFF)
    size_len = 1
    b0 = raw[seg_at + 4]
    mask = 0x80
    while not b0 & mask:
        size_len += 1
        mask >>= 1
    unknown = bytes(raw[: seg_at + 4]) + b"\xff" + bytes(
        raw[seg_at + 4 + size_len :])
    u = webm_census(unknown)
    assert u["n_tracks"] == 1 and u["duration_ms"] == 10

    # float32 Duration is legal EBML
    f32 = bytearray(encode_webm_stub("webm", 1_000_000, 2000, 0, 1))
    d_at = f32.index(b"\x44\x89")
    f32[d_at : d_at + 2 + 1 + 8] = (
        b"\x44\x89\x84" + _struct.pack(">f", 2000.0)
    )
    # fix enclosing sizes: easier to rebuild — skip; instead decode the
    # float reader directly
    from torcdb_spark.operators.ebml import _float
    assert _float(_struct.pack(">f", 2000.0), 0, 4) == 2000.0

    with _pytest.raises(ValueError):
        webm_census(b"not ebml at all, promise")
    with _pytest.raises(ValueError):  # element overruns its scope
        trunc = encode_webm_stub()
        webm_census(trunc[: len(trunc) - 4])
    with _pytest.raises(ValueError):  # EBML header alone: no segment
        from torcdb_spark.operators.ebml import _DOCTYPE, _EBML_HEADER, _elem
        webm_census(_elem(_EBML_HEADER, _elem(_DOCTYPE, b"webm")))


def test_ogg_comment_tags():
    """Vorbis-comment / OpusTags walk: lacing reassembly of packets
    spanning 255-byte segments (and pages), UTF-8 entries, first-'='
    split, vendor skip, census interop, and the ValueError
    contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        _ogg_packets,
        encode_ogg_stub,
        ogg_comment_tags,
        ogg_page_census,
    )

    tags = [("TITLE", "Song — ünïcode ✓"), ("ARTIST", "someone"),
            ("DATE", "1999"), ("COMMENT", "v=a=b keeps later equals")]
    for codec in ("opus", "vorbis"):
        raw = encode_ogg_stub(codec, comments=tags)
        assert ogg_comment_tags(raw) == tags, codec
        # the page census still parses streams with a comment page
        c = ogg_page_census(raw)
        assert c["codec"] == codec and c["n_packets"] == 2 + 3 * 2

    # a >255-byte comment packet spans multiple lacing segments
    big = [("LYRICS", "la " * 300)]
    raw = encode_ogg_stub("opus", comments=big)
    assert ogg_comment_tags(raw) == [("LYRICS", "la " * 300)]
    pkts = list(_ogg_packets(raw))
    assert len(pkts[1]) > 510  # reassembled across >=3 segments

    # exact-255-multiple packet needs the empty terminator segment
    pad = 255 * 2 - (8 + 4 + 6 + 4 + 4 + len("K=") )
    exact = encode_ogg_stub("opus", comments=[("K", "x" * pad)])
    assert ogg_comment_tags(exact)[0][1] == "x" * pad

    # contracts
    with _pytest.raises(ValueError):  # no comment page at all
        ogg_comment_tags(encode_ogg_stub("opus"))
    with _pytest.raises(ValueError):
        ogg_comment_tags(b"not ogg")
    noeq = bytearray(encode_ogg_stub("opus", comments=[("AB", "c")]))
    noeq[noeq.rindex(b"AB=c") + 2] = 0x5F  # '=' -> '_'
    with _pytest.raises(ValueError):
        ogg_comment_tags(bytes(noeq))


def test_h264_nal_census():
    """H.264 NAL walk + real Exp-Golomb SPS decode: Annex-B vs AVCC
    framing equivalence, type histogram / IDR counts, macroblock-grid
    dimensions with 4:2:0 frame cropping, emulation-prevention strip,
    and the ValueError contracts."""
    import pytest as _pytest

    from torcdb_spark.operators.h264 import (
        _add_emulation,
        _strip_emulation,
        encode_h264_stream,
        encode_sps,
        h264_nal_census,
        parse_sps,
    )

    # Annex-B: 2 GOPs x (1 IDR + 2 P); 100x52 forces crop_r=6, crop_b=6
    c = h264_nal_census(encode_h264_stream(100, 52, n_gops=2,
                                           p_per_gop=2, level_idc=31))
    assert c["width"] == 100 and c["height"] == 52
    assert c["profile_idc"] == 66 and c["level_idc"] == 31
    assert c["n_nalus"] == 8 and c["n_slices"] == 6
    assert c["n_idr"] == 2 and c["n_sps"] == 1 and c["n_pps"] == 1

    # AVCC framing yields the identical census (minus framing bytes)
    a = h264_nal_census(encode_h264_stream(100, 52, n_gops=2,
                                           p_per_gop=2, level_idc=31,
                                           avcc=True))
    for k in ("width", "height", "n_nalus", "n_slices", "n_idr",
              "n_sps", "n_pps", "profile_idc", "level_idc"):
        assert a[k] == c[k], k

    # exact multiples of 16 carry no cropping flag and round-trip
    e = h264_nal_census(encode_h264_stream(1280, 720, n_gops=1,
                                           p_per_gop=0))
    assert e["width"] == 1280 and e["height"] == 720
    assert e["n_nalus"] == 3 and e["n_idr"] == 1

    # emulation prevention: a ue-heavy SPS with 00 00 runs survives
    sps = encode_sps(0, 0)  # tiny dims → long zero runs in the RBSP
    assert parse_sps(_strip_emulation(sps[1:]))["width"] == 16
    rb = b"\x00\x00\x01\x00\x00\x02\xff\x00\x00\x00"
    assert _strip_emulation(_add_emulation(rb)) == rb
    assert b"\x00\x00\x01" not in _add_emulation(rb)

    # contracts
    with _pytest.raises(ValueError):
        h264_nal_census(b"")
    with _pytest.raises(ValueError):  # forbidden_zero_bit
        h264_nal_census(b"\x00\x00\x01" + b"\xe5" + bytes(8))
    with _pytest.raises(ValueError):  # AVCC length overruns
        h264_nal_census((500).to_bytes(4, "big") + b"\x67" + bytes(10))
    with _pytest.raises(ValueError):  # no SPS anywhere
        h264_nal_census(b"\x00\x00\x01\x65" + b"\x11" * 8)
    with _pytest.raises(ValueError):  # odd crop remainder
        encode_h264_stream(101, 52)


def test_range_join_equals_naive_join_property(spark):
    """Property test: the bin-bucketed range join produces EXACTLY the
    rows of the naive BETWEEN join for randomized points/intervals across
    several bin widths (including widths smaller and larger than every
    interval)."""
    from hypothesis import given, settings, strategies as st

    from torcdb_spark.operators.range_join import range_join

    @settings(max_examples=12, deadline=None)
    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 3), st.floats(0, 100, width=16)),
            min_size=1, max_size=20,
        ),
        ivs=st.lists(
            st.tuples(
                st.integers(0, 3),
                st.floats(0, 100, width=16),
                st.floats(0, 30, width=16),
            ),
            min_size=1, max_size=10,
        ),
        width=st.sampled_from([3.0, 17.0, 250.0]),
        keyed=st.booleans(),
    )
    def check(pts, ivs, width, keyed):
        p = spark.createDataFrame(
            [(i, k, float(x)) for i, (k, x) in enumerate(pts)],
            "pid int, k int, x double",
        )
        iv = spark.createDataFrame(
            [(j, k, float(lo), float(lo + ln)) for j, (k, lo, ln) in enumerate(ivs)],
            "iid int, ik int, lo double, hi double",
        )
        on = ["k"] if keyed else None
        if keyed:
            iv2 = iv.withColumnRenamed("ik", "k")
        else:
            iv2 = iv.drop("ik")
        got = {
            (r.pid, r.iid)
            for r in range_join(p, iv2, "x", "lo", "hi", bin_width=width, on=on)
            .select("pid", "iid").collect()
        }
        want = set()
        for i, (pk, x) in enumerate(pts):
            for j, (ik, lo, ln) in enumerate(ivs):
                if (not keyed or pk == ik) and lo <= x <= lo + ln:
                    want.add((i, j))
        assert got == want

    check()


def test_bm25_hand_computed(spark):
    import math
    from torcdb_spark.operators.text import bm25_rank
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog dog dog bird"), (3, "fish bird")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25 for r in bm25_rank(docs, ["cat"], top_k=3).collect()}
    # only doc 1 contains 'cat': tf=2, df=1, N=3, dl=3, avgdl=3
    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1)
    expect = idf * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3))
    assert got == {1: round(expect, 4)}
    with _pytest.raises(ValueError):
        bm25_rank(docs, [])


def test_pq_topk_recall_and_determinism(spark, sf_dir):
    """PQ ADC + re-rank: deterministic build (no random init) and recall
    >= 0.75 vs exact cosine on the fixture embeddings (near-random
    synthetic vectors — the hard case for PQ; clustered real embeddings
    fare better). Returned scores are exact (re-ranked) so every returned
    pair's score equals the brute-force score."""
    import pyspark.sql.functions as F

    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    approx = pq_topk(emb, qs, k=5, m_subspaces=4, k_sub=64, rerank_factor=20)
    exact = cosine_topk_bruteforce(emb, qs, k=5)
    a = {(r["query_id"], r["neighbor_id"]): r["score"] for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]): r["score"] for r in exact.collect()}
    recall = len(a.keys() & e.keys()) / len(e)
    assert recall >= 0.75, f"pq recall {recall}"
    for pair in a.keys() & e.keys():
        assert abs(a[pair] - e[pair]) < 1e-9  # re-ranked scores are exact
    a2 = {(r["query_id"], r["neighbor_id"]) for r in pq_topk(
        emb, qs, k=5, m_subspaces=4, k_sub=64, rerank_factor=20
    ).collect()}
    assert set(a.keys()) == a2


def test_table_diff_classifies_all_cases(spark):
    from torcdb_spark.operators.diff import diff_summary, table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], ["k", "v"]
    )
    d = {r["k"]: r["change"] for r in table_diff(old, new, ["k"]).collect()}
    assert d == {1: "deleted", 3: "updated", 4: "inserted"}
    s = {r["change"]: r["n"] for r in diff_summary(old, new, ["k"]).collect()}
    assert s == {"deleted": 1, "updated": 1, "inserted": 1, "unchanged": 1}


def test_table_diff_null_safe_compare(spark):
    """NULL→value and value→NULL must both classify as updated (xxhash64
    folds NULL deterministically, not to SQL-null)."""
    from torcdb_spark.operators.diff import table_diff

    old = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    new = spark.createDataFrame([(1, "y"), (2, None)], "k int, v string")
    d = {r["k"]: r["change"] for r in table_diff(old, new, ["k"]).collect()}
    assert d == {1: "updated", 2: "updated"}


def test_tiff_decode_roundtrip_and_via_spark(spark):
    """Uncompressed TIFF decode: exact round-trip through the minimal
    writer, RGB + grayscale, and through the Spark decode pipeline."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        decode_and_featurize,
        decode_image,
        encode_tiff_rgb,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(9, 4, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_tiff_rgb(img)), img)
    gray = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_tiff_rgb(gray)), gray)

    media = spark.createDataFrame(
        [(1, bytearray(encode_tiff_rgb(img)), "image/tiff", 4, 9, None),
         (2, bytearray(b"JUNK"), "image/tiff", None, None, None)],
        "media_id long, payload binary, mime string, width int, height int, n_frames int",
    )
    out = {r["media_id"]: r for r in decode_and_featurize(media).collect()}
    assert out[1]["decode_err"] is None
    assert (out[1]["width"], out[1]["height"]) == (4, 9)
    assert out[2]["decode_err"] is not None  # junk flagged, not dropped


def test_audio_spectral_features_match_sine(spark):
    """A pure 440 Hz sine must yield dominant_hz == the rfft bin nearest
    440 and centroid within a few Hz of it (spectral leakage only)."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        audio_spectral_features,
        encode_wav_pcm,
    )

    rate, n = 8000, 4000
    t = np.arange(n) / rate
    sine = (np.sin(2 * np.pi * 440.0 * t) * 100 + 128).astype(np.uint8)
    wav = encode_wav_pcm(sine, sample_rate=rate, bits=8)
    media = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav", None, None, None),
         (2, bytearray(b"nope"), "audio/wav", None, None, None)],
        "media_id long, payload binary, mime string, width int, height int, n_frames int",
    )
    got = audio_spectral_features(media).collect()
    assert len(got) == 1 and got[0]["media_id"] == 1
    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
    nearest = float(freqs[np.argmin(np.abs(freqs - 440.0))])
    assert got[0]["dominant_hz"] == round(nearest, 2)
    # 8-bit quantization noise spreads a flat floor over 0..4 kHz, pulling
    # the centroid above the tone; it must still sit far below the
    # noise-only centroid (~2 kHz) — i.e., the tone dominates
    assert 400.0 < got[0]["centroid_hz"] < 1000.0
    assert 0.0 < got[0]["bandwidth_hz"] < 1500.0


def test_cms_never_underestimates_and_merges(spark, sf_dir):
    """CMS contract: (1) estimate >= true count for every key; (2) the
    merge of two partial sketches equals the sketch of the union —
    counters add exactly (deterministic md5 bucketing)."""
    import pyspark.sql.functions as F

    from torcdb_spark.operators.cms import cms_estimate, cms_merge, cms_sketch

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    d, w = 4, 2048
    sk = cms_sketch(li, "l_partkey", d=d, w=w)
    keys = li.select("l_partkey").dropDuplicates().limit(50)
    est = {r["l_partkey"]: r["est"]
           for r in cms_estimate(sk, keys, "l_partkey", d=d, w=w).collect()}
    true = {r["l_partkey"]: r["n"] for r in
            li.groupBy("l_partkey").agg(F.count("*").alias("n")).collect()}
    for k, e in est.items():
        assert e >= true[k], (k, e, true[k])

    a = cms_sketch(li.where("l_orderkey % 2 = 0"), "l_partkey", d=d, w=w)
    b = cms_sketch(li.where("l_orderkey % 2 = 1"), "l_partkey", d=d, w=w)
    merged = {(r["row"], r["bucket"]): r["n"]
              for r in cms_merge(a.unionByName(b)).collect()}
    full = {(r["row"], r["bucket"]): r["n"] for r in sk.collect()}
    assert merged == full


def test_jpeg_roundtrip_all_paths():
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(7)
    flat = np.full((16, 24, 3), [120, 60, 200], dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(flat, quality=90))
    assert dec.shape == (16, 24, 3)
    assert int(np.abs(dec.astype(int) - flat.astype(int)).max()) <= 1

    # non-multiple-of-8 dims + gradient
    grad = np.zeros((17, 13, 3), dtype=np.uint8)
    grad[..., 0] = np.linspace(0, 255, 13)[None, :]
    grad[..., 1] = np.linspace(0, 255, 17)[:, None]
    grad[..., 2] = 128
    dec = decode_jpeg(encode_jpeg_baseline(grad, quality=90))
    assert dec.shape == grad.shape
    assert int(np.abs(dec.astype(int) - grad.astype(int)).max()) <= 8

    # noise at q95 stays close on average
    noise = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(noise, quality=95))
    assert float(np.abs(dec.astype(int) - noise.astype(int)).mean()) < 8

    # grayscale single component
    g = rng.integers(0, 256, (20, 20), dtype=np.uint8)
    decg = decode_jpeg(encode_jpeg_baseline(g, quality=95))
    assert decg.shape == (20, 20, 1)

    # 4:2:0 subsampling decodes with chroma within subsampling error
    dec420 = decode_jpeg(
        encode_jpeg_baseline(grad, quality=90, subsample_420=True)
    )
    assert dec420.shape == grad.shape
    assert int(np.abs(dec420.astype(int) - grad.astype(int)).max()) <= 24

    # restart markers change the byte stream, not the pixels
    with_rst = decode_jpeg(
        encode_jpeg_baseline(noise, quality=90, restart_interval=2)
    )
    without = decode_jpeg(encode_jpeg_baseline(noise, quality=90))
    assert np.array_equal(with_rst, without)


def test_jpeg_12bit_extended_sequential():
    """12-bit (SOF1) frames: level shift 2048, 16-bit DQT entries, the
    extended DC0..15/AC1..14 Huffman tables, and rescale-to-uint8 on
    output with the round-half-up rule the 16-bit PPM path uses."""
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    base = yy * 30 + xx * 20  # smooth ramp, max 1720 < 4096
    img12 = np.stack([base, base + 800, 4095 - base], axis=-1).astype(
        np.int64
    )
    ref = ((img12 * 255 + 2047) // 4095).astype(np.int64)

    payload = encode_jpeg_baseline(img12, quality=95, precision=12)
    head = payload.split(b"\xff\xda")[0]
    assert b"\xff\xc1" in head and b"\xff\xc0" not in head  # SOF1, not SOF0
    sof = head[head.index(b"\xff\xc1") + 4 :]
    assert sof[0] == 12  # sample precision byte
    dec = decode_jpeg(payload)
    assert dec.shape == (h, w, 3)
    # 12-bit carries 4 extra bits through the quantizer: tighter than the
    # 8-bit q95 bound
    assert int(np.abs(dec.astype(int) - ref).max()) <= 2

    # 4:2:0 + restart markers on the 12-bit path
    dec420 = decode_jpeg(
        encode_jpeg_baseline(
            img12,
            quality=95,
            precision=12,
            subsample_420=True,
            restart_interval=3,
        )
    )
    assert int(np.abs(dec420.astype(int) - ref).max()) <= 8

    # grayscale 12-bit
    g12 = base.astype(np.int64)
    refg = (g12 * 255 + 2047) // 4095
    decg = decode_jpeg(encode_jpeg_baseline(g12, quality=95, precision=12))
    assert decg.shape == (h, w, 1)
    assert int(np.abs(decg[:, :, 0].astype(int) - refg).max()) <= 2

    # an 8-bit image and its 12-bit x16 upscale decode to (nearly) the
    # same uint8 pixels — the rescale contract
    img8 = (img12 >> 4).astype(np.uint8)
    d8 = decode_jpeg(encode_jpeg_baseline(img8, quality=95))
    d12 = decode_jpeg(
        encode_jpeg_baseline(img12 & ~0xF | 0x8, quality=95, precision=12)
    )
    assert float(np.abs(d8.astype(int) - d12.astype(int)).mean()) < 2.0


def test_jpeg_lossless_sof3_exact():
    """Lossless process (SOF3): bit-exact round trips across all seven
    predictors, RGB, restart markers, 12/16-bit precision (rescaled to
    the uint8 contract with round-half-up), and the point transform."""
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(13)
    g = rng.integers(0, 256, (23, 31), dtype=np.uint8)
    for p in range(1, 8):
        dec = decode_jpeg(encode_jpeg_lossless(g, predictor=p))
        assert np.array_equal(dec[:, :, 0], g), f"predictor {p}"

    rgb = rng.integers(0, 256, (17, 13, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(rgb, predictor=7)), rgb
    )
    assert np.array_equal(
        decode_jpeg(encode_jpeg_lossless(rgb, predictor=4,
                                         restart_interval=5)),
        rgb,
    )

    g16 = rng.integers(0, 65536, (11, 9)).astype(np.int64)
    dec = decode_jpeg(encode_jpeg_lossless(g16, predictor=4, precision=16))
    assert np.array_equal(dec[:, :, 0], (g16 * 255 + 32767) // 65535)

    g12 = rng.integers(0, 4096, (11, 9)).astype(np.int64)
    dec = decode_jpeg(encode_jpeg_lossless(g12, predictor=6, precision=12))
    assert np.array_equal(dec[:, :, 0], (g12 * 255 + 2047) // 4095)

    # point transform drops pt low bits before prediction
    dec = decode_jpeg(encode_jpeg_lossless(g, predictor=4, pt=1))
    assert np.array_equal(dec[:, :, 0], (g.astype(np.int64) >> 1) << 1)


def test_jpeg_lossless_restart_h11_fixed_stream():
    """T.81 H.1.1: a restart interval begins like a scan start — the
    first sample predicts from 2^(P-Pt-1) and the REMAINDER of that
    sample line uses the 1-D predictor Ra, with the selected (2-D)
    predictor resuming on the next line.  This stream is hand-built
    (diffs computed by hand per H.1.1, independent of
    encode_jpeg_lossless) with the restart landing MID-ROW; the pre-fix
    decoder applied the 2-D predictor across the restart boundary and
    decoded (1,3) as 50 instead of 80."""
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        DC_LL_BITS,
        DC_LL_VALS,
        _BitWriter,
        _canonical_codes,
        _size_of,
        decode_jpeg,
    )

    img = np.array([[10, 20, 30, 40], [50, 60, 70, 80]], np.int64)
    # predictor 2 (Rb), restart_interval 6 -> RST before sample (1, 2).
    # H.1.1 predictions: (0,0) default 128; (0,1..3) Ra; (1,0) Rb=10;
    # (1,1) Rb=20; restart; (1,2) default 128; (1,3) Ra=70.
    diffs = [-118, 10, 10, 10, 40, 40, None, -58, 10]  # None = RST0
    tab = _canonical_codes(DC_LL_BITS, DC_LL_VALS)
    bw = _BitWriter()
    for d in diffs:
        if d is None:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0])
            continue
        s = _size_of(d)
        code, ln = tab[s]
        bw.write(code, ln)
        if s:
            bw.write(d if d >= 0 else d + (1 << s) - 1, s)
    bw.flush()

    def seg(marker, payload):
        return (
            bytes([0xFF, marker])
            + (len(payload) + 2).to_bytes(2, "big")
            + payload
        )

    data = bytearray(b"\xff\xd8")
    data += seg(0xC4, bytes([0x00]) + bytes(DC_LL_BITS) + bytes(DC_LL_VALS))
    sof = bytes([8]) + (2).to_bytes(2, "big") + (4).to_bytes(2, "big")
    sof += bytes([1, 1, 0x11, 0])
    data += seg(0xC3, sof)
    data += seg(0xDD, (6).to_bytes(2, "big"))
    data += seg(0xDA, bytes([1, 1, 0x00, 2, 0, 0]))  # Ss=predictor 2
    data += bw.out + b"\xff\xd9"

    out = decode_jpeg(bytes(data))
    assert np.array_equal(out[:, :, 0], img)

    # encoder/decoder stay in lockstep with mid-row restarts
    from torcdb_spark.operators.jpeg import encode_jpeg_lossless

    rng = np.random.default_rng(29)
    g = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    for p in (1, 2, 4, 7):
        enc = encode_jpeg_lossless(g, predictor=p, restart_interval=3)
        assert np.array_equal(decode_jpeg(enc)[:, :, 0], g), f"pred {p}"


def test_webp_lossless_roundtrip_all_paths():
    """VP8L encode→decode is bit-exact through every transform and
    entropy feature: all 14 predictor modes, cross-color,
    subtract-green, color-indexing at every bundling width, color
    cache, LZ77 (incl. the close-neighborhood distance map), a
    one-group entropy image, and simple/normal prefix codes."""
    import numpy as np

    from torcdb_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.default_rng(5)
    h, w = 33, 29
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 3 + xx * 2) % 256, (yy * 5) % 256, (xx * 7) % 256], axis=-1
    ).astype(np.uint8)

    assert np.array_equal(decode_webp(encode_webp_lossless(img)), img)
    assert np.array_equal(
        decode_webp(encode_webp_lossless(img, use_subtract_green=True)), img
    )
    for mode in range(14):
        assert np.array_equal(
            decode_webp(encode_webp_lossless(img, predictor_mode=mode)), img
        ), f"predictor mode {mode}"
    assert np.array_equal(
        decode_webp(encode_webp_lossless(img, color_transform=(17, 250, 5))),
        img,
    )
    # all three pixel transforms stacked
    assert np.array_equal(
        decode_webp(
            encode_webp_lossless(
                img,
                predictor_mode=11,
                color_transform=(200, 3, 130),
                use_subtract_green=True,
            )
        ),
        img,
    )
    assert np.array_equal(
        decode_webp(encode_webp_lossless(img, cache_bits=4)), img
    )
    assert np.array_equal(
        decode_webp(encode_webp_lossless(img, use_meta=True)), img
    )

    # LZ77 over a stripey image (distance-1 runs use the mapped code)
    stripes = np.repeat(
        rng.integers(0, 256, (8, 1, 3), dtype=np.uint8), 40, axis=1
    )
    stripes = np.repeat(stripes, 3, axis=0)
    assert np.array_equal(
        decode_webp(encode_webp_lossless(stripes, use_rle=True)), stripes
    )
    assert np.array_equal(
        decode_webp(
            encode_webp_lossless(stripes, use_rle=True, cache_bits=5)
        ),
        stripes,
    )

    # color indexing at 1/2/4-bit bundling and the unbundled widths
    for n in (2, 4, 13, 40, 250):
        pal = rng.integers(0, 256, (n, 3), dtype=np.uint8)
        pimg = pal[rng.integers(0, n, (19, 23))]
        assert np.array_equal(
            decode_webp(encode_webp_lossless(pimg, palette=True)), pimg
        ), f"palette n={n}"

    # RGBA with a live alpha channel stays 4-channel
    rgba = rng.integers(0, 256, (14, 11, 4), dtype=np.uint8)
    rgba[0, 0, 3] = 7  # ensure alpha isn't uniformly 255
    out = decode_webp(encode_webp_lossless(rgba, predictor_mode=12,
                                           cache_bits=3))
    assert out.shape == (14, 11, 4)
    assert np.array_equal(out, rgba)

    # degenerate shapes
    for shape in [(1, 1, 3), (1, 7, 3), (9, 1, 3)]:
        im = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(decode_webp(encode_webp_lossless(im)), im)


def test_webp_container_and_rejects():
    """RIFF parsing: a VP8X extended container wrapping VP8L decodes;
    lossy VP8 raises the documented NotImplementedError; garbage raises
    ValueError; decode_image dispatches on the RIFF/WEBP magic."""
    import numpy as np
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import decode_image
    from torcdb_spark.operators.webp import (
        decode_webp,
        encode_webp_lossless,
    )

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (5, 6, 3), dtype=np.uint8)
    plain = encode_webp_lossless(img)
    assert np.array_equal(decode_image(plain), img)  # dispatch hit

    # wrap the VP8L chunk in a VP8X extended container
    vp8l_chunk = plain[12:]
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + bytes(10)
    body = b"WEBP" + vp8x + vp8l_chunk
    wrapped = b"RIFF" + len(body).to_bytes(4, "little") + body
    assert np.array_equal(decode_webp(wrapped), img)

    lossy_body = b"WEBP" + b"VP8 " + (4).to_bytes(4, "little") + bytes(4)
    lossy = b"RIFF" + len(lossy_body).to_bytes(4, "little") + lossy_body
    with _pytest.raises(NotImplementedError):
        decode_webp(lossy)
    with _pytest.raises(ValueError):
        decode_webp(b"RIFF\x00\x00\x00\x00JUNK" + bytes(8))
    with _pytest.raises(ValueError):
        decode_webp(b"not a webp")


def test_webp_distance_map_spec_semantics():
    """Pin the LZ77 close-neighborhood mapping to the published spec
    semantics (RFC 9649 §5.2.3 / libwebp PlaneCodeToDistance): the spec
    stores (xoffset, yoffset) with dist = xoffset + yoffset*xsize, the
    repo map stores dx = -xoffset, so dist MUST be dy*w - dx.  The old
    dy*w + dx made all 8 same-row codes ((1,0)..(8,0), distances 2..8)
    clamp to 1 and mirrored every diagonal left/right — invisible to
    encoder round trips because encode_webp_lossless only emits code 2."""
    from torcdb_spark.operators.webp import _DIST_MAP

    # The spec table's published head (codes 1..10) and the same-row
    # codes, verbatim from the normative table in (xoffset, yoffset)
    # convention: (1,0) is the left neighbor, code 2.
    spec_head = [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2),
        (2, 0), (1, 2), (-1, 2), (2, 1), (-2, 1),
    ]
    for code, (xoff, yoff) in enumerate(spec_head, start=1):
        dx, dy = _DIST_MAP[code - 1]
        assert (-dx, dy) == (xoff, yoff), f"code {code}"
    # Same-row references: spec code -> xoffset (distance on any width).
    same_row = {2: 1, 6: 2, 14: 3, 24: 4, 40: 5, 56: 6, 74: 7, 97: 8}
    for w in (1, 7, 64, 16384):
        for code, xoff in same_row.items():
            dx, dy = _DIST_MAP[code - 1]
            dist = max(dy * w - dx, 1)
            assert dist == xoff, f"code {code} width {w}: {dist} != {xoff}"
    # Every code must agree with the spec formula incl. the <1 clamp.
    for w in (1, 3, 8, 100):
        for code in range(1, 121):
            dx, dy = _DIST_MAP[code - 1]
            want = max((-dx) + dy * w, 1)
            got = max(dy * w - dx, 1)
            assert got == want
    # Tail of the table (codes 117..120).
    assert [(-dx, dy) for dx, dy in _DIST_MAP[-4:]] == [
        (7, 7), (-7, 7), (8, 6), (8, 7)
    ]


def test_webp_decode_2d_backward_reference_fixed_stream():
    """Decode a hand-built VP8L byte string whose LZ77 reference uses
    distance code 4 = spec offset (-1, 1): on a 4-wide image that is
    dist = w - 1 = 3, i.e. copy from one row up, one column RIGHT.  The
    expected pixels are computed by hand from the spec, independent of
    encode_webp_lossless (which never emits dx != 0 codes); the
    pre-fix decoder read this as dist = w + 1 = 5 and produced mirrored
    pixels."""
    import numpy as np

    from torcdb_spark.operators.webp import (
        _LsbWriter,
        _write_code_spec,
        _write_single_symbol,
        decode_webp,
    )

    w, h = 4, 2
    bw = _LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no entropy image (meta prefix codes)
    # Prefix codes, decoder read order: green+len, r, b, a, distance.
    greens = [10, 20, 30, 40, 50]
    g_lengths = [0] * (256 + 24)
    for s in greens:
        g_lengths[s] = 3
    g_lengths[256 + 2] = 3  # length-prefix symbol 2 => length 3
    g_codes = _write_code_spec(bw, g_lengths)
    r_codes = _write_single_symbol(bw, 0)
    b_codes = _write_single_symbol(bw, 0)
    a_codes = _write_single_symbol(bw, 255)
    d_codes = _write_single_symbol(bw, 3)  # dist-prefix sym 3 => code 4
    del r_codes, b_codes, a_codes  # zero-bit codes: nothing to emit

    def emit_green(sym):
        c, n = g_codes[sym]
        bw.write_code(c, n)

    for g in greens:  # row 0: literals 10 20 30 40; row 1 pos 4: 50
        emit_green(g)
    emit_green(256 + 2)  # LZ77: length 3 ...
    c, n = d_codes[3]
    bw.write_code(c, n)  # ... distance code 4 (zero-bit symbol)
    payload = b"\x2f" + bw.finish()
    body = b"WEBP" + b"VP8L" + len(payload).to_bytes(4, "little") + payload
    data = b"RIFF" + len(body).to_bytes(4, "little") + body

    out = decode_webp(data)
    # dist = 3: pos 5<-pos 2 (30), pos 6<-pos 3 (40), pos 7<-pos 4 (50)
    want_green = np.array([[10, 20, 30, 40], [50, 30, 40, 50]], np.uint8)
    assert out.shape == (2, 4, 3)
    assert np.array_equal(out[:, :, 1], want_green)
    assert np.all(out[:, :, 0] == 0) and np.all(out[:, :, 2] == 0)


def test_jpeg_rejects_lossless_and_garbage():
    import numpy as np
    import pytest as _pytest

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    payload = bytearray(encode_jpeg_baseline(img))
    # flip SOF0 (FFC0) to SOF5 (differential sequential): must be
    # refused (progressive SOF2 and lossless SOF3 are supported — see
    # their tests)
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC5
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(payload))
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01\x02\x03")


def test_jpeg_progressive_bit_identical_to_baseline():
    """Progressive and baseline encodings of the SAME image share the
    same quantized coefficients, so both decodes must be EXACTLY equal
    — pixel-for-pixel, no tolerance. Covers gray + RGB, non-multiple-
    of-8 dims, flat/gradient/extreme content, and single-high-frequency
    blocks that force ZRL runs in both first and refinement AC scans."""
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        _D,
        ZIGZAG,
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(99)
    cases = [
        rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8),
        rng.integers(0, 256, size=(13, 11), dtype=np.uint8),
        np.full((17, 19), 130, dtype=np.uint8),
        rng.choice([0, 255], size=(16, 16, 3)).astype(np.uint8),
    ]
    # single high-frequency coefficient per block -> long zero runs
    for kz in (20, 40, 63):
        zz = np.zeros(64)
        zz[kz] = 900.0
        blk = np.zeros(64)
        blk[ZIGZAG] = zz
        pix = _D.T @ blk.reshape(8, 8) @ _D + 128
        cases.append(
            np.tile(np.clip(np.round(pix), 0, 255).astype(np.uint8), (2, 3))
        )
    for img in cases:
        for q in (30, 85, 95):
            b = decode_jpeg(encode_jpeg_baseline(img, quality=q))
            p = decode_jpeg(encode_jpeg_progressive(img, quality=q))
            np.testing.assert_array_equal(b, p)


def test_jpeg_progressive_eobrun_spans_blocks():
    """Hand-built progressive stream whose AC-first scan codes an EOBn
    run covering BOTH blocks (symbol 0x10 + 1 run bit) — the cross-block
    EOB-run path the layered encoder (which emits per-block EOB0) never
    produces. Both 8x8 blocks must reconstruct to the identical flat
    DC-only value."""
    import numpy as np

    from torcdb_spark.operators.jpeg import _D, decode_jpeg

    def seg(marker, payload):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    qt = bytes([0]) + bytes([1] * 64)  # table 0, all ones
    sof = bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big") + bytes(
        [1, 1, 0x11, 0]
    )
    # DC table: standard luminance layout (sizes 0..11)
    from torcdb_spark.operators.jpeg import DC_LUM_BITS, DC_LUM_VALS

    dht_dc = bytes([0x00]) + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS)
    # AC table: two 1-bit codes — '0' -> 0x10 (EOB1), '1' -> 0x00 (EOB0)
    ac_bits = [2] + [0] * 15
    dht_ac = bytes([0x10]) + bytes(ac_bits) + bytes([0x10, 0x00])
    # DC-first scan (Ss=Se=0, Ah=0, Al=0): diffs 8 then 0
    # s=4 -> code '101'; magnitude 8 -> '1000'; s=0 -> code '00'
    dc_scan = seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x00])) + bytes([0b10110000, 0b01111111])
    # AC-first scan (Ss=1, Se=63): symbol 0x10 ('0') + 1 run bit (0)
    # -> EOBRUN = (1<<1)-1+0 = 1: ends block 0, covers block 1 entirely
    ac_scan = seg(0xDA, bytes([1, 1, 0x10, 1, 63, 0x00])) + bytes([0b00111111])
    payload = (
        b"\xff\xd8" + seg(0xDB, qt) + seg(0xC2, sof)
        + seg(0xC4, dht_dc) + seg(0xC4, dht_ac)
        + dc_scan + ac_scan + b"\xff\xd9"
    )
    got = decode_jpeg(payload)
    assert got.shape == (8, 16, 1)
    blk = np.zeros((8, 8))
    blk[0, 0] = 8.0  # DC 8 x qt 1
    exp = np.clip(np.round(_D.T @ blk @ _D + 128), 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(got[:, :8, 0], exp)
    np.testing.assert_array_equal(got[:, 8:, 0], exp)


def test_decode_image_dispatches_jpeg():
    import numpy as np

    from torcdb_spark.operators.jpeg import encode_jpeg_baseline
    from torcdb_spark.operators.multimodal import decode_image

    img = np.full((8, 8, 3), [10, 200, 30], dtype=np.uint8)
    out = decode_image(encode_jpeg_baseline(img, quality=90))
    assert out.shape == (8, 8, 3)
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 2


def test_phash_pairs_match_bruteforce(spark):
    import numpy as np

    from torcdb_spark.operators.multimodal import phash64, phash_near_dup_pairs

    rng = np.random.RandomState(7)
    imgs = {}
    base = rng.randint(0, 255, size=(16, 16, 3)).astype(np.uint8)
    imgs[0] = base
    near = base.copy()
    near[3, 4] = [1, 2, 3]          # one-pixel perturbation
    imgs[1] = near
    imgs[2] = base.copy()           # exact duplicate of 0
    shifted = np.clip(base.astype(int) + 10, 0, 245).astype(np.uint8)
    imgs[3] = shifted               # brightness shift
    for i in range(4, 16):
        imgs[i] = rng.randint(0, 255, size=(16, 16, 3)).astype(np.uint8)

    # brute-force reference pairs at hamming <= 3
    hashes = {i: phash64(im) for i, im in imgs.items()}
    assert all(-(1 << 63) <= h < (1 << 63) for h in hashes.values())
    assert hashes[0] == hashes[2]   # identical pixels -> identical hash

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    expected = {
        (a, b, ham(hashes[a], hashes[b]))
        for a in imgs
        for b in imgs
        if a < b and ham(hashes[a], hashes[b]) <= 3
    }
    assert (0, 2, 0) in expected

    def ppm(im):
        return b"P6\n16 16\n255\n" + im.tobytes()

    media = spark.createDataFrame(
        [(i, bytearray(ppm(im))) for i, im in imgs.items()],
        "media_id long, payload binary",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_near_dup_pairs(media, max_hamming=3, bands=4).collect()
    }
    assert got == expected


def test_cell_assignment_keeps_double_precision(spark):
    """An array<double> column keeps its precision through the cosine cell
    assignment of ivf_topk and semantic_dedup. The pair's cosine is
    0.9495: 0.95 at three decimals, 0.949 once narrowed to float. With
    one cell and one probe IVF is exact, so it must score like brute
    force, and dedup at 0.95 must group the pair."""
    import math

    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        semantic_dedup,
    )

    t = math.acos(0.9495)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [math.cos(t), math.sin(t)])],
        "vec_id long, embedding array<double>",
    )
    exact = sorted(tuple(r) for r in cosine_topk_bruteforce(df, df, k=1).collect())
    assert exact == [(0, 1, 0.95, 1), (1, 0, 0.95, 1)]
    ivf = ivf_topk(df, df, k=1, num_centroids=1, nprobe=1)
    assert sorted(tuple(r) for r in ivf.collect()) == exact
    dedup = semantic_dedup(df, threshold=0.95, num_cells=1)
    assert {r.vec_id: (r.rep_id, r.kept) for r in dedup.collect()} == {
        0: (0, True),
        1: (0, False),
    }


def test_semantic_dedup_matches_bruteforce(spark):
    import numpy as np

    from torcdb_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(3)
    vecs = {}
    a = rng.randn(16)
    vecs[0] = a
    vecs[1] = a * 2.0                      # cosine 1.0 with 0
    b = rng.randn(16)
    vecs[2] = b
    # chain: 3 close to 2, 4 close to 3 but not to 2 (transitive closure)
    vecs[3] = b + 0.06 * rng.randn(16)
    vecs[4] = vecs[3] + 0.06 * rng.randn(16)
    for i in range(5, 30):
        vecs[i] = rng.randn(16)            # background, pairwise far

    def brute_groups(threshold):
        ids = sorted(vecs)
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for i in ids:
            for j in ids:
                if i < j:
                    vi, vj = vecs[i], vecs[j]
                    cos = round(
                        float(vi @ vj / (np.linalg.norm(vi) * np.linalg.norm(vj))),
                        3,
                    )
                    if cos >= threshold:
                        ri, rj = find(i), find(j)
                        if ri != rj:
                            parent[max(ri, rj)] = min(ri, rj)
        return {i: find(i) for i in ids}

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # num_cells=1 removes the cell-boundary approximation -> exact match
    got = {
        r.vec_id: (r.rep_id, r.kept)
        for r in semantic_dedup(df, threshold=0.95, num_cells=1).collect()
    }
    exp = brute_groups(0.95)
    assert {i: g[0] for i, g in got.items()} == exp
    assert all(kept == (rep == i) for i, (rep, kept) in got.items())
    # the duplicate pair and the transitive chain actually collapsed
    assert got[1][0] == 0 and not got[1][1]
    assert got[3][0] == got[4][0] == got[2][0] == 2

    # with cells, results remain a refinement (groups never cross-merge
    # incorrectly: every reported rep must be a brute-force groupmate)
    cells = {
        r.vec_id: r.rep_id
        for r in semantic_dedup(df, threshold=0.95, num_cells=4).collect()
    }
    assert all(exp[i] == exp[rep] for i, rep in cells.items())


def test_avi_mjpeg_roundtrip_and_frame_sampler(spark):
    import numpy as np

    from torcdb_spark.operators.jpeg import decode_jpeg
    from torcdb_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        video_frame_features,
    )

    yy, xx = np.mgrid[0:16, 0:16]
    frames = [
        np.clip(
            np.round(
                np.stack(
                    [
                        128 + 100 * np.sin((xx + d) / 5.0),
                        128 + 80 * np.cos(yy / 4.0),
                        128 + 60 * np.sin((xx + yy + d) / 7.0),
                    ],
                    axis=-1,
                )
            ),
            0,
            255,
        ).astype(np.uint8)
        for d in range(5)
    ]
    avi = encode_avi_mjpeg(frames, fps=10, quality=90)
    meta, payloads = decode_avi_mjpeg(avi)
    assert meta == (5, 16, 16) and len(payloads) == 5
    # JPEG quantization tolerance, per-frame
    for p, f in zip(payloads, frames):
        assert int(np.abs(decode_jpeg(p).astype(int) - f.astype(int)).max()) <= 12
    # odd-sized JPEG payloads must not break chunk alignment
    assert all(
        decode_avi_mjpeg(encode_avi_mjpeg([f], quality=q))[1] for f in frames[:1]
        for q in (35, 50, 90)
    )
    with_garbage = b"RIFF" + avi[4:8] + b"AVI " + b"\x00" * 8
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_avi_mjpeg(with_garbage[:10])

    # the distributed sampler decodes exactly every 2nd frame with lumas
    # matching a direct local decode
    media = spark.createDataFrame(
        [(1, bytearray(avi))], "media_id long, payload binary"
    )
    got = {
        r.frame_idx: (r.width, r.height, r.mean_luma, r.decode_err)
        for r in video_frame_features(media, every_n=2).collect()
    }
    assert sorted(got) == [0, 2, 4]
    for idx in (0, 2, 4):
        img = decode_jpeg(payloads[idx])
        luma = round(
            float(
                (
                    0.299 * img[:, :, 0]
                    + 0.587 * img[:, :, 1]
                    + 0.114 * img[:, :, 2]
                ).mean()
            ),
            3,
        )
        assert got[idx] == (16, 16, luma, None)


def test_gif_codec_roundtrips_and_dispatch():
    import numpy as np
    import pytest

    from torcdb_spark.operators.gif import decode_gif, encode_gif
    from torcdb_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 255, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (23, 31)).astype(np.uint8)
    g = encode_gif(idx, pal)
    assert g[:6] == b"GIF89a"
    # paletted round-trip is bit-exact, and the multimodal dispatch
    # routes GIF magic to the same decoder
    assert (decode_gif(g) == pal[idx]).all()
    assert (decode_image(g) == pal[idx]).all()
    # RGB path: nearest-level uniform quantization, error <= half spacing
    img = rng.randint(0, 255, (17, 19, 3)).astype(np.uint8)
    err = int(np.abs(decode_gif(encode_gif(img)).astype(int) - img.astype(int)).max())
    assert err <= 43
    # LZW code-width growth + >16-entry palette power-of-two padding
    pal2 = rng.randint(0, 255, (200, 3)).astype(np.uint8)
    idx2 = rng.randint(0, 200, (64, 64)).astype(np.uint8)
    assert (decode_gif(encode_gif(idx2, pal2)) == pal2[idx2]).all()
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF!")
    with pytest.raises(ValueError):
        encode_gif(idx)  # index input without palette


def test_gif_interlaced_decode():
    import numpy as np

    from torcdb_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 255, (16, 3)).astype(np.uint8)
    h, w = 13, 9  # odd height exercises uneven pass lengths
    arr = rng.randint(0, 16, (h, w)).astype(np.uint8)
    order = np.concatenate(
        [np.arange(0, h, 8), np.arange(4, h, 8),
         np.arange(2, h, 4), np.arange(1, h, 2)]
    )
    stored = arr[order]  # rows as an interlaced encoder would emit them
    g = bytearray(encode_gif(stored, pal))
    # image descriptor: header 13 + padded GCT 16*3; flags byte is the
    # 9th byte after the 0x2C introducer
    desc = 13 + 48
    assert g[desc] == 0x2C
    g[desc + 9] |= 0x40  # set interlace flag
    assert (decode_gif(bytes(g)) == pal[arr]).all()


def test_gif_animation_roundtrip():
    import numpy as np
    import pytest

    from torcdb_spark.operators.gif import (
        decode_gif,
        decode_gif_frames,
        encode_gif,
        encode_gif_animated,
    )

    rng = np.random.RandomState(2)
    pal = rng.randint(0, 255, (16, 3)).astype(np.uint8)
    frames = [rng.randint(0, 16, (10, 12)).astype(np.uint8) for _ in range(4)]
    g = encode_gif_animated(frames, pal, delay_cs=5)
    out = decode_gif_frames(g)
    assert len(out) == 4
    for f_idx, f_rgb in zip(frames, out):
        assert (f_rgb == pal[f_idx]).all()
    # single-image path agrees across both decode APIs
    single = encode_gif(frames[0], pal)
    assert (decode_gif_frames(single)[0] == pal[frames[0]]).all()
    # the single-image decoder refuses animations by documented contract
    with pytest.raises(NotImplementedError):
        decode_gif(g)


def test_kneser_ney_bigram_math(spark):
    """KN probabilities vs a by-hand replay on a tiny corpus."""
    from collections import Counter
    import math

    from torcdb_spark.operators.text import kneser_ney_bigram

    docs = spark.createDataFrame(
        [
            (1, "a b a b c"),
            (2, "b c a"),
            (3, "x"),          # < 2 tokens: contributes nothing
        ],
        "doc_id long, text string",
    )
    got = {
        (r["context"], r["next_word"]): r
        for r in kneser_ney_bigram(docs, 0.75).collect()
    }

    bigrams = [("a","b"),("b","a"),("a","b"),("b","c"),("b","c"),("c","a")]
    c_bi = Counter(bigrams)
    c_ctx = Counter(v for v, _ in bigrams)
    follow = {v: len({w for (x, w) in c_bi if x == v}) for v, _ in bigrams}
    prec = {w: len({x for (x, y) in c_bi if y == w}) for _, w in bigrams}
    total = len(c_bi)
    for (v, w), c in c_bi.items():
        p = (max(c - 0.75, 0.0) / c_ctx[v]
             + 0.75 * follow[v] / c_ctx[v] * (prec[w] / float(total)))
        r = got[(v, w)]
        assert r["c_bi"] == c
        assert r["c_ctx"] == c_ctx[v]
        assert r["n_follow_types"] == follow[v]
        assert r["n_prec_types"] == prec[w]
        assert r["p_kn"] == math.floor(p * 1_000_000 + 0.5) / 1_000_000
    assert set(got) == set(c_bi)
    # probability mass per context sums to ~1 (interpolated KN is proper)
    for v in c_ctx:
        mass = sum(
            (max(c_bi[(v, w)] - 0.75, 0.0) / c_ctx[v]
             + 0.75 * follow[v] / c_ctx[v] * (prec[w] / float(total)))
            for w in prec  # full vocab on the next-word side
            if True
        )
        # over OBSERVED next-words only it's < 1; with the continuation
        # term extended over the whole vocab it hits 1 — check the bound
        assert mass <= 1.0 + 1e-9


def test_scrub_duplicate_spans_semantics(spark):
    """Keep-first span removal on a constructed corpus."""
    import hashlib

    from torcdb_spark.operators.text import scrub_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),          # owner of every span it has
            (2, "x a b c y"),          # 'a b c' foreign -> cut 3 tokens
            (3, "a b c d e"),          # full duplicate -> cut everything
            (4, "q r"),                # < 3 tokens: untouched
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_duplicate_spans(docs, 3).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert (got[1]["n_removed"], got[1]["n_kept"]) == (0, 5)
    assert got[1]["kept_md5"] == h("a b c d e")
    assert (got[2]["n_removed"], got[2]["n_kept"]) == (3, 2)
    assert got[2]["kept_md5"] == h("x y")
    assert (got[3]["n_removed"], got[3]["n_kept"]) == (5, 0)
    assert got[3]["kept_md5"] == h("")
    assert (got[4]["n_removed"], got[4]["n_kept"]) == (0, 2)
    assert got[4]["kept_md5"] == h("q r")


def test_mmr_rerank_greedy_replay(spark):
    """MMR selection trajectory vs an independent python greedy replay."""
    import math

    from torcdb_spark.operators.similarity import mmr_rerank

    vecs = {
        1: [1.0, 0.0, 0.0],     # query
        10: [0.9, 0.1, 0.0],    # most relevant
        11: [0.89, 0.11, 0.0],  # near-dup of 10 -> should be demoted
        12: [0.5, 0.5, 0.0],    # diverse
        13: [0.4, 0.0, 0.6],    # diverse
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["sel_rank"]: (r["neighbor_id"], r["mmr"])
        for r in mmr_rerank(
            df, df.where("vec_id = 1"), k=3, pool=4, lam=0.7
        ).collect()
    }

    def r6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    cands = {i: r6(cos(vecs[1], vecs[i])) for i in (10, 11, 12, 13)}
    sims = {
        (a, b): r6(cos(vecs[a], vecs[b]))
        for a in cands for b in cands if a != b
    }
    sel = [max(sorted(cands), key=lambda i: cands[i])]
    expect = {1: (sel[0], cands[sel[0]])}
    for rank in (2, 3):
        best = None
        for i in sorted(cands):
            if i in sel:
                continue
            mmr = r6(0.7 * cands[i] - (1.0 - 0.7) * max(
                sims[(i, s)] for s in sel
            ))
            if best is None or mmr > best[1]:
                best = (i, mmr)
        sel.append(best[0])
        expect[rank] = best
    assert got == expect


def test_welch_ttest_matches_textbook_formula(spark):
    """ab1's statistics vs a direct python computation on a toy frame."""
    import hashlib
    import math
    from datetime import datetime

    rows = []
    for uid in range(1, 9):
        for j in range(3):
            rows.append(
                (uid * 100 + j, datetime(2024, 1, 1), uid, "click",
                 float(uid) + j * 0.5, "{}")
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    from torcdb_spark.queries import _QUERIES  # reuse the registered fn

    # run the ab1 logic directly on this frame via its building blocks
    from pyspark.sql import functions as F

    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16, 10,
        ).cast("long") % 2 == 0
    )
    tagged = ev.withColumn("is_a", arm).collect()
    a = [r["value"] for r in tagged if r["is_a"]]
    b = [r["value"] for r in tagged if not r["is_a"]]
    # python replay (identical md5 assignment)
    for r in tagged:
        h = int(hashlib.md5(str(r["user_id"]).encode()).hexdigest()[:8], 16)
        assert (h % 2 == 0) == r["is_a"]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = (sum(x * x for x in a) - sum(a) ** 2 / na) / (na - 1)
    vb = (sum(x * x for x in b) - sum(b) ** 2 / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    df = se2 * se2 / (
        va * va / (na * na * (na - 1)) + vb * vb / (nb * nb * (nb - 1))
    )

    # now the operator itself, over a temp view shaped like events
    import tempfile, os
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    fn = dict(_QUERIES)["ab1_welch_ttest"]  # ab1 reads only events
    got = {r["event_type"]: r for r in fn(spark, d).collect()}
    r = got["click"]
    flo = lambda x, k: math.floor(x * 10 ** k + 0.5) / 10 ** k
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["mean_a"] == flo(ma, 4) and r["mean_b"] == flo(mb, 4)
    assert r["t_stat"] == flo(t, 4)
    assert r["welch_df"] == flo(df, 2)


def test_decode_image_16bit_ppm():
    """16-bit P6 (maxval > 255): two big-endian bytes per sample,
    rescaled to 8-bit with integer round-half-up."""
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image

    wide = np.array(
        [[[0, 65535, 32768], [257, 514, 65021]],
         [[1000, 2000, 3000], [40000, 50000, 60000]]],
        dtype=np.uint16,
    )
    payload = b"P6\n2 2\n65535\n" + wide.astype(">u2").tobytes()
    got = decode_image(payload)
    want = ((wide.astype(np.uint32) * 255 + 65535 // 2) // 65535).astype(
        np.uint8
    )
    np.testing.assert_array_equal(got, want)
    assert got[0, 0, 0] == 0 and got[0, 0, 1] == 255
    # truncated 16-bit body still errors
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image(payload[:-3])
    # non-power maxval (1023) rescales through the same integer path
    w2 = np.array([[[1023, 0, 512]]], dtype=np.uint16)
    p2 = b"P6\n1 1\n1023\n" + w2.astype(">u2").tobytes()
    np.testing.assert_array_equal(
        decode_image(p2), np.array([[[255, 0, 128]]], dtype=np.uint8)
    )


def test_embedding_pca_matches_numpy(spark, sf_dir):
    """embedding_pca == numpy PCA (eigh on the sample covariance) after
    the largest-|loading|-positive sign convention; whitened components
    have unit variance."""
    import numpy as np

    from torcdb_spark.operators.similarity import embedding_pca
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:4]
    comps = vecs[:, order]
    for c in range(comps.shape[1]):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    want = {i: (X[n] - mu) @ comps for n, i in enumerate(ids)}

    got = {
        r["vec_id"]: np.array(r["proj"])
        for r in embedding_pca(emb, k=4).collect()
    }
    assert set(got) == set(want)
    for i in ids:
        np.testing.assert_allclose(got[i], want[i], atol=1e-8)

    # whitened: per-component sample variance == 1
    W = np.array(
        [r["proj"] for r in embedding_pca(emb, k=4, whiten=True).collect()]
    )
    np.testing.assert_allclose(W.var(axis=0, ddof=1), 1.0, atol=1e-6)


def test_decode_png_palette_lookup():
    """Paletted PNG (color type 3): indices gather through PLTE to RGB;
    filter types apply to the index plane before the lookup."""
    import struct
    import zlib

    import numpy as np
    import pytest
    from torcdb_spark.operators.multimodal import decode_image

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    pal = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  7, 8, 9])
    # 3x2 indices with Sub filter on row 0 (cumsum: 0,1,2) and None on row 1
    raw = bytes([1, 0, 1, 1]) + bytes([0, 3, 0, 2])
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", pal)
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    got = decode_image(png)
    exp = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[7, 8, 9], [255, 0, 0], [0, 0, 255]]], dtype=np.uint8)
    np.testing.assert_array_equal(got, exp)
    # out-of-range index is malformed
    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", bytes([1, 2, 3]))
           + chunk(b"IDAT", zlib.compress(bytes([0, 200])))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_image(bad)


def test_parse_srt_cues(spark):
    """SubRip parser: multi-line cue text collapses, VTT-style dot
    milliseconds accepted, hour overflow (>= 100h) parsed, non-cue
    blocks (WEBVTT header, stray notes) drop."""
    from torcdb_spark.operators.text import parse_srt

    srt = (
        "WEBVTT\n\n"
        "1\n00:00:01,000 --> 00:00:02,500\nhello world\n\n"
        "2\n00:01:00.000 --> 00:01:03.250\nline one\nline two\n\n"
        "NOTE a comment block\n\n"
        "3\n101:02:03,004 --> 101:02:04,005\nlong movie\n"
    )
    df = spark.createDataFrame([(7, srt)], "doc_id long, srt string")
    rows = {r.cue_idx: r for r in parse_srt(df).collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1].start_ms == 1000 and rows[1].end_ms == 2500
    assert rows[1].cue_text == "hello world"
    assert rows[2].start_ms == 60000 and rows[2].end_ms == 63250
    assert rows[2].cue_text == "line one line two"
    assert rows[3].start_ms == 101 * 3600000 + 2 * 60000 + 3004
    assert rows[3].doc_id == 7


def test_pdf_text_extraction():
    """Minimal PDF writer → extractor round trips: escaping (parens,
    backslashes), multi-page, multi-line (T* line moves), FlateDecode
    streams sliced by /Length (compressed bytes may contain 'endstream'
    or end in EOL bytes), plus hand-built content exercising TJ arrays,
    octal escapes, and hex strings."""
    import numpy as np

    from torcdb_spark.operators.pdf import (
        _extract_content_text,
        encode_pdf_text,
        extract_pdf_text,
    )

    pages = [
        ["Hello (world) \\ back\\slash", "second line"],
        ["page two"],
    ]
    expected = "Hello (world) \\ back\\slash\nsecond line\npage two"
    for compress in (False, True):
        assert extract_pdf_text(
            encode_pdf_text(pages, compress=compress)
        ) == expected

    # stress /Length slicing: many random-ish texts whose compressed
    # bytes will hit EOL-final and arbitrary binary content
    rng = np.random.default_rng(71)
    for _ in range(60):
        n = int(rng.integers(1, 400))
        txt = "".join(
            chr(int(c)) for c in rng.integers(32, 127, n)
        )
        assert extract_pdf_text(
            encode_pdf_text([[txt]], compress=True)
        ) == txt

    c = (b"BT [(ab) -120 (cd)] TJ T* (\\101\\102) Tj T* "
         b"<48454C4C4F> Tj (x\\ny) Tj ET")
    assert _extract_content_text(c) == "abcd\nAB\nHELLOx\ny"

    # ' and " show-next-line operators: the operand string PRECEDES the
    # operator, so the break lands before it, not after
    assert _extract_content_text(b"BT (a) Tj (b) ' (c) \" ET") == "a\nb\nc"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        extract_pdf_text(b"not a pdf")


def test_wav_float_and_g711_companding():
    """WAVE format tags 3 (IEEE float 32/64), 6 (A-law), 7 (µ-law):
    float round trips are (near-)exact; the G.711 companders are
    validated BIT-FOR-BIT against stdlib audioop over the full int16
    range where available (Python < 3.13), and the encode→decode chain
    matches audioop's chain exactly."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        _alaw_to_linear,
        _linear_to_alaw,
        _linear_to_mulaw,
        _mulaw_to_linear,
        decode_wav,
        encode_wav_pcm,
    )

    rng = np.random.default_rng(51)
    lin = rng.normal(0, 8000, 500).clip(-32768, 32767).astype(np.int32)
    f = lin / 32768.0
    for bits, tol in ((32, 1e-6), (64, 0.0)):
        dt = "<f4" if bits == 32 else "<f8"
        rate, x = decode_wav(
            encode_wav_pcm(f.astype(dt), 16000, bits=bits, fmt_tag=3)
        )
        assert rate == 16000
        assert float(np.abs(x - f).max()) <= tol

    # companded round trip: error bounded by the largest segment step
    for tag in (6, 7):
        _, x = decode_wav(encode_wav_pcm(lin, 8000, fmt_tag=tag))
        assert float(np.abs(x - f).max()) < 0.04

    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop  # removed in Python 3.13
    except ImportError:
        return
    xs = np.arange(-32768, 32768, dtype=np.int32)
    allb = bytes(range(256))
    assert np.array_equal(
        _mulaw_to_linear(np.frombuffer(allb, np.uint8)),
        np.frombuffer(audioop.ulaw2lin(allb, 2), "<i2").astype(np.int32),
    )
    assert np.array_equal(
        _alaw_to_linear(np.frombuffer(allb, np.uint8)),
        np.frombuffer(audioop.alaw2lin(allb, 2), "<i2").astype(np.int32),
    )
    assert np.array_equal(
        _linear_to_mulaw(xs),
        np.frombuffer(
            audioop.lin2ulaw(xs.astype("<i2").tobytes(), 2), np.uint8
        ),
    )
    assert np.array_equal(
        _linear_to_alaw(xs),
        np.frombuffer(
            audioop.lin2alaw(xs.astype("<i2").tobytes(), 2), np.uint8
        ),
    )


def test_wav_ima_adpcm():
    """IMA ADPCM (WAVE tag 17): the quantizer core is validated
    bit-for-bit (samples AND end state) against stdlib audioop's
    adpcm2lin where available, including clamp-saturating streams; the
    WAV block framing (header predictor as sample 0, low-nibble-first)
    decodes a hand-built two-block file exactly."""
    import struct

    import numpy as np

    from torcdb_spark.operators.multimodal import (
        _ima_adpcm_core,
        decode_wav,
    )

    rng = np.random.default_rng(61)

    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop  # removed in Python 3.13
    except ImportError:
        audioop = None
    if audioop is not None:
        # random + saturating streams, audioop order = high nibble first
        for raw in (
            bytes(rng.integers(0, 256, 400, dtype=np.uint8)),
            bytes([0x77] * 200),  # drive predictor to +clamp
            bytes([0xFF] * 200),  # drive predictor to -clamp
        ):
            nibs = []
            for b in raw:
                nibs.append(b >> 4)
                nibs.append(b & 0x0F)
            mine, pred, idx = _ima_adpcm_core(nibs, 0, 0)
            ref, state = audioop.adpcm2lin(raw, 2, None)
            assert np.array_equal(
                np.array(mine), np.frombuffer(ref, "<i2").astype(int)
            )
            assert (pred, idx) == state

    # hand-built 2-block mono IMA WAV (65 samples per 36-byte block);
    # decoder state chains across blocks via each block's header
    block_align = 36
    blocks = b""
    expect = []
    pred, index = 1234, 20
    for _ in range(2):
        body_bytes = bytes(rng.integers(0, 256, 32, dtype=np.uint8))
        nibs = []
        for b in body_bytes:
            nibs.append(b & 0x0F)
            nibs.append(b >> 4)
        blocks += struct.pack("<hBB", pred, index, 0) + body_bytes
        expect.append(pred)
        dec, pred, index = _ima_adpcm_core(nibs, pred, index)
        expect.extend(dec)
    fmt = struct.pack(
        "<HHIIHH", 17, 1, 8000, 8000, block_align, 4
    ) + struct.pack("<HH", 2, 65)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(blocks)) + blocks)
    rate, x = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert rate == 8000 and len(x) == 130
    assert np.array_equal(
        np.round(x * 32768).astype(int), np.array(expect)
    )


def test_bmp_palette_and_rle8():
    """Handcrafted 8-bit/4-bit palette BMPs (bottom-up, padded strides,
    MSB-first nibbles) and an RLE8 stream exercising runs, absolute
    mode with word alignment, end-of-line and end-of-bitmap escapes."""
    import struct

    import numpy as np

    from torcdb_spark.operators.multimodal import decode_image

    def bmp(w, h, bpp, comp, n_pal, img_bytes):
        pal_rgb = [(i * 37 % 256, i * 11 % 256, i * 73 % 256)
                   for i in range(n_pal)]
        pal = b"".join(bytes([b, g, r, 0]) for r, g, b in pal_rgb)
        off = 14 + 40 + len(pal)
        hdr = b"BM" + struct.pack("<IHHI", off + len(img_bytes), 0, 0, off)
        hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                           len(img_bytes), 0, 0, n_pal, 0)
        return hdr + pal + img_bytes, pal_rgb

    rows = [[0, 1, 2, 3, 4], [4, 3, 2, 1, 0], [1, 1, 2, 2, 3]]
    img_bytes = b"".join(bytes(r) + bytes(3) for r in reversed(rows))
    payload, pal = bmp(5, 3, 8, 0, 8, img_bytes)
    exp = np.array([[pal[i] for i in r] for r in rows], dtype=np.uint8)
    assert np.array_equal(decode_image(payload), exp)

    rows4 = [[0, 1, 2, 3, 4], [4, 2, 0, 1, 3]]

    def pack4(r):
        b = bytearray()
        for i in range(0, len(r), 2):
            b.append((r[i] << 4) | (r[i + 1] if i + 1 < len(r) else 0))
        return bytes(b) + bytes(4 - len(b))

    payload, pal = bmp(5, 2, 4, 0, 16,
                       b"".join(pack4(r) for r in reversed(rows4)))
    exp = np.array([[pal[i] for i in r] for r in rows4], dtype=np.uint8)
    assert np.array_equal(decode_image(payload), exp)

    # RLE8 bottom-up: row0 = run 6x7 + EOL; row1 = run 3x5 + absolute
    # [1,2,3] (odd count → pad byte) + EOB
    rle = bytes([6, 7, 0, 0, 3, 5, 0, 3, 1, 2, 3, 0, 0, 1])
    payload, pal = bmp(6, 2, 8, 1, 8, rle)
    exp = np.array(
        [[pal[5]] * 3 + [pal[1], pal[2], pal[3]], [pal[7]] * 6],
        dtype=np.uint8,
    )
    assert np.array_equal(decode_image(payload), exp)

    # malformed RLE8 follows the ValueError contract (not IndexError):
    # run past the row, delta past the bitmap, absolute past the payload
    import pytest as _pytest

    for bad in (
        bytes([7, 7, 0, 1]),               # run of 7 on a 6-wide row
        bytes([0, 2, 10, 10, 0, 1]),       # delta to (10, 10) on 6x2
        bytes([0, 0, 0, 0, 0, 0, 1, 1]),   # EOLs past the last row + run
        bytes([0, 5, 1, 2]),               # absolute run past payload end
    ):
        payload, _ = bmp(6, 2, 8, 1, 8, bad)
        with _pytest.raises(ValueError):
            decode_image(payload)


def test_tiff_lzw_bad_code_contract():
    """A corrupt LZW stream that emits a not-yet-defined code right
    after Clear raises the decoders' malformed-payload ValueError, not
    an IndexError."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import _tiff_lzw_decode

    def pack(codes, width=9):
        acc = nbits = 0
        out = bytearray()
        for c in codes:
            acc = (acc << width) | c
            nbits += width
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    with _pytest.raises(ValueError):
        _tiff_lzw_decode(pack([256, 300]))  # Clear then undefined code
    # sanity: a well-formed stream still decodes
    assert _tiff_lzw_decode(pack([256, 65, 66, 257])) == b"AB"


def test_tiff_compressed_variants_roundtrip():
    """TIFF Compression 5 (LZW w/ EarlyChange + table resets),
    8 (Deflate), 32773 (PackBits), each with and without Predictor 2
    (horizontal differencing) — exact round trips on random, smooth,
    and run-heavy images, gray and RGB."""
    import numpy as np

    from torcdb_spark.operators.multimodal import (
        decode_image,
        encode_tiff_rgb,
    )

    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, (21, 17, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (9, 30), dtype=np.uint8)
    smooth = np.cumsum(rng.integers(0, 3, (15, 40, 3)), axis=1).astype(
        np.uint8
    )
    stripes = np.repeat(
        rng.integers(0, 256, (6, 1, 3), dtype=np.uint8), 50, axis=1
    )
    for comp in (1, 5, 8, 32773):
        for pred in (1, 2):
            for im in (img, smooth, stripes):
                out = decode_image(
                    encode_tiff_rgb(im, compression=comp, predictor=pred)
                )
                assert np.array_equal(out, im), (comp, pred)
            outg = decode_image(
                encode_tiff_rgb(gray, compression=comp, predictor=pred)
            )
            assert np.array_equal(outg, gray), (comp, pred, "gray")
    # enough data to force LZW 12-bit table resets mid-stream
    big = rng.integers(0, 256, (120, 200, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_image(encode_tiff_rgb(big, compression=5)), big
    )


def test_decode_tiff_16bit_both_byte_orders():
    """16-bit TIFF samples rescale to uint8 with PPM-style integer
    rounding, honoring II/MM byte order; hand-built single-strip files."""
    import struct

    import numpy as np
    from torcdb_spark.operators.multimodal import decode_image

    def build(bo, vals, w, h):
        e = "<" if bo == b"II" else ">"
        px = b"".join(struct.pack(e + "H", v) for v in vals)
        # header + one IFD with 8 entries, strip data after the IFD
        n_tags = 8
        ifd_off = 8
        data_off = ifd_off + 2 + 12 * n_tags + 4

        def tag(t, typ, cnt, val):
            return struct.pack(e + "HHI", t, typ, cnt) + struct.pack(
                e + "I", val
            ) if typ == 4 else struct.pack(e + "HHI", t, typ, cnt) + struct.pack(
                e + "HH", val, 0
            )

        ifd = struct.pack(e + "H", n_tags)
        ifd += tag(256, 3, 1, w)            # width
        ifd += tag(257, 3, 1, h)            # height
        ifd += tag(258, 3, 1, 16)           # bits per sample
        ifd += tag(259, 3, 1, 1)            # compression: none
        ifd += tag(273, 4, 1, data_off)     # strip offset
        ifd += tag(277, 3, 1, 1)            # samples per pixel
        ifd += tag(278, 3, 1, h)            # rows per strip
        ifd += tag(279, 4, 1, len(px))      # strip byte count
        ifd += struct.pack(e + "I", 0)      # next IFD
        magic = b"II*\x00" if bo == b"II" else b"MM\x00*"
        return magic + struct.pack(e + "I", ifd_off) + ifd + px

    vals = [0, 65535, 32768, 257]
    exp = np.array([(v * 255 + 32767) // 65535 for v in vals],
                   dtype=np.uint8).reshape(2, 2)
    for bo in (b"II", b"MM"):
        got = decode_image(build(bo, vals, 2, 2))
        np.testing.assert_array_equal(got, exp)


def test_decode_wav_24_and_32_bit():
    """24-bit (3-byte LE, sign-extended) and 32-bit PCM normalize to the
    same float positions as their int values / 2^(bits-1)."""
    import numpy as np
    from torcdb_spark.operators.multimodal import decode_wav, encode_wav_pcm

    vals = np.array([0, 1 << 22, -(1 << 23), (1 << 23) - 1], dtype="<i4")
    rate, x = decode_wav(encode_wav_pcm(vals, sample_rate=48000, bits=24))
    assert rate == 48000
    np.testing.assert_allclose(
        x, vals.astype(np.float64) / float(1 << 23)
    )
    vals32 = np.array([0, -(1 << 31), (1 << 31) - 1, 12345678], dtype="<i4")
    rate2, x2 = decode_wav(encode_wav_pcm(vals32, sample_rate=8000, bits=32))
    np.testing.assert_allclose(
        x2, vals32.astype(np.float64) / float(1 << 31)
    )
    # 24-bit stereo mixes to mono like the other widths
    st = np.array([100, 300, -200, -400], dtype="<i4")
    _, x3 = decode_wav(
        encode_wav_pcm(st, sample_rate=8000, bits=24, channels=2)
    )
    np.testing.assert_allclose(
        x3, [200 / float(1 << 23), -300 / float(1 << 23)]
    )


def test_jpeg_progressive_hypothesis_property():
    """Property: for ANY uint8 image (1-3 channels, arbitrary small
    dims) and any quality, progressive and baseline encodings decode
    bit-identically — they quantize the same coefficients, so the G.2
    scan machinery must be a pure re-serialization."""
    from hypothesis import given, settings, strategies as st
    import numpy as np

    from torcdb_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    @settings(max_examples=12, deadline=None)
    @given(
        h=st.integers(1, 24),
        w=st.integers(1, 24),
        color=st.booleans(),
        q=st.integers(20, 98),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(h, w, color, q, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        b = decode_jpeg(encode_jpeg_baseline(img, quality=q))
        p = decode_jpeg(encode_jpeg_progressive(img, quality=q))
        np.testing.assert_array_equal(b, p)

    prop()


def test_gopher_rules_hand_computed(spark):
    from torcdb_spark.operators.text import gopher_rules

    docs = spark.createDataFrame(
        [
            # 30 alpha words incl. stopwords, mean len in band → all pass
            (0, " ".join(["the"] + ["table"] * 14 + ["value"] * 15)),
            # too short (3 words)
            (1, "the quick fox"),
            # numbers only → alpha-word rule fails (0/30 alpha)
            (2, " ".join(["123"] * 30)),
            # no stopwords → stop-word rule fails
            (3, " ".join(["quick"] * 30)),
            # blank → filtered out entirely
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert set(rows) == {0, 1, 2, 3}  # blank doc dropped
    assert rows[0].passes_all
    assert not rows[1].r_word_count and not rows[1].passes_all
    assert not rows[2].r_alpha_words and not rows[2].passes_all
    assert rows[3].r_word_count and not rows[3].r_stop_words
    # mean word length: doc 0 words are 3/5/5 chars → in [3, 10]
    assert rows[0].r_mean_word_len


def test_mutual_knn_graph_matches_numpy(spark):
    import numpy as np

    from torcdb_spark.operators.similarity import cosine_topk_bruteforce

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    k = 3
    topk = cosine_topk_bruteforce(df, df, k=k).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("nid"),
    )
    rev = topk.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"))
    got = {
        (r.qid, r.nid)
        for r in topk.join(rev, ["qid", "nid"], "left_semi")
        .where(F.col("qid") < F.col("nid"))
        .collect()
    }
    # numpy replay with the SAME tie rule (rounded score desc, id asc)
    v = vecs.astype("float64")
    norms = np.sqrt((v * v).sum(1))
    sims = (v @ v.T) / np.outer(norms, norms)
    neigh = {}
    for i in range(30):
        cand = [
            (round(sims[i, j], 3), j) for j in range(30) if j != i
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        neigh[i] = {j for _, j in cand[:k]}
    want = {
        (a, b)
        for a in range(30)
        for b in neigh[a]
        if a < b and a in neigh[b]
    }
    assert got == want


def test_resize_bilinear_matches_per_pixel_replay():
    import numpy as np

    from torcdb_spark.operators.multimodal import resize_bilinear

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(13, 9, 3), dtype=np.uint8)
    out_h, out_w = 7, 5
    got = resize_bilinear(img, out_h, out_w)

    # independent scalar replay of the half-pixel-center convention
    h, w = img.shape[:2]
    f = img.astype(np.float64)
    want = np.zeros((out_h, out_w, 3))
    for i in range(out_h):
        for j in range(out_w):
            # identical association order to the kernel's
            # (i+0.5)*(h/out_h): the other order differs by 1 ulp
            sy = (i + 0.5) * (h / out_h) - 0.5
            sx = (j + 0.5) * (w / out_w) - 0.5
            y0 = min(max(int(np.floor(sy)), 0), h - 1)
            x0 = min(max(int(np.floor(sx)), 0), w - 1)
            y1, x1 = min(y0 + 1, h - 1), min(x0 + 1, w - 1)
            wy = min(max(sy - y0, 0.0), 1.0)
            wx = min(max(sx - x0, 0.0), 1.0)
            # SAME factored lerp form as the kernel (the 4-term sum
            # differs by 1 ulp near .5 boundaries and would flip rounds)
            top = f[y0, x0] * (1 - wx) + f[y0, x1] * wx
            bot = f[y1, x0] * (1 - wx) + f[y1, x1] * wx
            want[i, j] = top * (1 - wy) + bot * wy
    want = np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got, want)


def test_resize_bilinear_reproduces_affine_exactly():
    import numpy as np

    from torcdb_spark.operators.multimodal import resize_bilinear

    yy, xx = np.mgrid[0:16, 0:32]
    img = (4 * xx + 2 * yy + 7).astype(np.uint8)  # affine, max 185
    out = resize_bilinear(img, 8, 16)
    ii, jj = np.mgrid[0:8, 0:16]
    # source coords (2j+.5, 2i+.5) → 4(2j+.5)+2(2i+.5)+7 = 8j+4i+10
    want = (8 * jj + 4 * ii + 10).astype(np.uint8)
    assert np.array_equal(out, want)


def test_resize_bilinear_grayscale_and_upscale():
    import numpy as np

    from torcdb_spark.operators.multimodal import resize_bilinear

    img = np.array([[0, 255]], dtype=np.uint8)  # 1×2 → upscale 1×4
    out = resize_bilinear(img, 1, 4)
    assert out.shape == (1, 4)
    assert out[0, 0] == 0 and out[0, 3] == 255
    assert np.all(np.diff(out[0].astype(int)) >= 0)  # monotone ramp


def test_resize_bilinear_hypothesis_property():
    """Property: for ANY uint8 image and output dims, the vectorized
    kernel equals the scalar per-pixel replay of the half-pixel-center
    convention (gather/lerp/round agree on every (shape, scale) pair,
    up- or downscale, gray or color)."""
    from hypothesis import given, settings, strategies as st
    import numpy as np

    from torcdb_spark.operators.multimodal import resize_bilinear

    @settings(max_examples=15, deadline=None)
    @given(
        h=st.integers(1, 20),
        w=st.integers(1, 20),
        oh=st.integers(1, 20),
        ow=st.integers(1, 20),
        color=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def prop(h, w, oh, ow, color, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w, 3) if color else (h, w)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        got = resize_bilinear(img, oh, ow)
        f = img.astype(np.float64)
        want = np.zeros((oh, ow, 3) if color else (oh, ow))
        for i in range(oh):
            for j in range(ow):
                sy = (i + 0.5) * (h / oh) - 0.5
                sx = (j + 0.5) * (w / ow) - 0.5
                y0 = min(max(int(np.floor(sy)), 0), h - 1)
                x0 = min(max(int(np.floor(sx)), 0), w - 1)
                y1, x1 = min(y0 + 1, h - 1), min(x0 + 1, w - 1)
                wy = min(max(sy - y0, 0.0), 1.0)
                wx = min(max(sx - x0, 0.0), 1.0)
                top = f[y0, x0] * (1 - wx) + f[y0, x1] * wx
                bot = f[y1, x0] * (1 - wx) + f[y1, x1] * wx
                want[i, j] = top * (1 - wy) + bot * wy
        want = np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8)
        np.testing.assert_array_equal(got, want)

    prop()


def test_kmeans_lloyd_matches_numpy_replay(spark):
    import numpy as np

    from torcdb_spark.operators.similarity import kmeans_lloyd_quantized

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 6).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.id: (r.cid, r.d2)
        for r in kmeans_lloyd_quantized(df, k=4, iters=2).collect()
    }

    # independent integer replay
    q = np.floor(vecs.astype(np.float64) * 1000).astype(np.int64)
    cents = {c: q[c].copy() for c in range(4)}  # k lowest ids seed

    def assign(cents):
        out = {}
        for i in range(40):
            best = min(
                (int(((q[i] - cv) ** 2).sum()), cid)
                for cid, cv in cents.items()
            )
            out[i] = (best[1], best[0])
        return out

    for _ in range(2):
        a = assign(cents)
        new = {}
        for cid in set(c for c, _ in a.values()):
            members = [q[i] for i, (c, _) in a.items() if c == cid]
            m = np.stack(members)
            new[cid] = np.floor(
                m.sum(axis=0).astype(np.float64) / len(members)
            ).astype(np.int64)
        cents = new
    want = {i: (c, d) for i, (c, d) in assign(cents).items()}
    assert got == want


def test_ivf_exact_cells_recall_vs_bruteforce(spark, sf_dir):
    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk_exact_cells,
    )
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 10")
    exact1 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=1).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_exact_cells(
            emb, q, k=5, num_centroids=8, nprobe=3
        ).collect()
    }
    hits = sum(1 for pair in exact1 if pair in ivf)
    # same floor as e4's hash-seeded IVF: the structure is exact, the
    # recall is still approximate by nature
    assert hits / max(len(exact1), 1) >= 0.5


def test_lsh_rademacher_recall_vs_bruteforce(spark, sf_dir):
    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        lsh_rademacher_topk,
    )
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 10")
    exact1 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=1).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in lsh_rademacher_topk(
            emb, q, k=5, num_bits=4, num_tables=8
        ).collect()
    }
    hits = sum(1 for pair in exact1 if pair in lsh)
    assert hits / max(len(exact1), 1) >= 0.5


def test_pq_adc_exact_recall_vs_bruteforce(spark, sf_dir):
    from torcdb_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_adc_exact,
    )
    from torcdb_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 10")
    # L2 brute ground truth approximated by cosine top-1 on the
    # near-unit-norm fixture vectors
    exact1 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=1).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_exact(emb, q, k=5, m=4, ksub=8).collect()
    }
    hits = sum(1 for pair in exact1 if pair in pq)
    assert hits / max(len(exact1), 1) >= 0.4


def test_robots_directives(spark):
    """RFC 9309 grouping: consecutive UA lines stack into one group, a
    UA after a directive starts a new group, comments strip, directives
    before any UA are invalid and dropped."""
    from pyspark.sql import Row

    from torcdb_spark.operators.text import robots_directives

    txt = (
        "Disallow: /orphan   # invalid: precedes every User-agent\n"
        "User-agent: a\n"
        "User-agent: b\n"
        "Disallow: /x\n"
        "Allow: /y  # comment\n"
        "\n"
        "User-agent: c\n"
        "Crawl-delay: 7\n"
        "not a directive line\n"
        "User-agent: d\n"
        "Disallow: /z\n"
    )
    df = spark.createDataFrame([Row(doc_id=1, robots=txt)])
    rows = {(r.group_idx, r.directive, r.value): r.agents
            for r in robots_directives(df).collect()}
    assert rows[(0, "disallow", "/x")] == "a,b"
    assert rows[(0, "allow", "/y")] == "a,b"
    assert rows[(1, "crawl-delay", "7")] == "c"
    assert rows[(2, "disallow", "/z")] == "d"
    assert not any(v == "/orphan" for (_, _, v) in rows)
    assert len(rows) == 4


def test_id3v24_frame_format_flags():
    """ADVICE r11: v2.4 per-frame format flags beyond unsync — the
    data-length indicator (0x01) prefixes the content with a 4-byte
    syncsafe original-size word that must be skipped, and compressed
    (0x08) / encrypted (0x04) frames are opaque payloads that must be
    skipped structurally, not decoded as text; v2.3's compression
    (0x80) / encryption (0x40) flag bits likewise."""
    from torcdb_spark.operators.multimodal import id3v2_text_frames

    def v24_frame(fid, fmt_flags, content):
        sz = bytes(((len(content) >> s) & 0x7F) for s in (21, 14, 7, 0))
        return fid + sz + bytes([0, fmt_flags]) + content

    def v24_tag(body):
        size = bytes(((len(body) >> s) & 0x7F) for s in (21, 14, 7, 0))
        return b"ID3" + bytes([4, 0, 0]) + size + body

    # data-length indicator: 4-byte syncsafe word precedes the text
    dli = bytes([0, 0, 0, 5]) + b"\x00Hello"
    plain = v24_frame(b"TALB", 0x00, b"\x00Album")
    tag = v24_tag(v24_frame(b"TIT2", 0x01, dli) + plain)
    assert id3v2_text_frames(tag) == [("TIT2", "Hello"), ("TALB", "Album")]

    # compressed / encrypted frames skip; the next frame still parses
    for flag in (0x08, 0x04, 0x0C):
        junk = v24_frame(b"TPE1", flag, b"\x9c\x01\xff zlib-ish junk")
        tag = v24_tag(junk + plain)
        assert id3v2_text_frames(tag) == [("TALB", "Album")], hex(flag)

    # v2.3: compression/encryption status bits also skip structurally
    def v23_frame(fid, fmt_flags, content):
        return (fid + len(content).to_bytes(4, "big")
                + bytes([0, fmt_flags]) + content)

    body = (v23_frame(b"TPE1", 0x80, b"\x00not really deflate")
            + v23_frame(b"TIT2", 0x00, b"\x00Kept"))
    size = bytes(((len(body) >> s) & 0x7F) for s in (21, 14, 7, 0))
    tag3 = b"ID3" + bytes([3, 0, 0]) + size + body
    assert id3v2_text_frames(tag3) == [("TIT2", "Kept")]


def test_synth_documents_twin_free(spark):
    """VERDICT r11 ask #6: the dedup-decade generator must produce
    DISTINCT text — no replicated twins and no 5-gram shingle shared
    across documents — or the decade measures synthetic duplication
    instead of the operator."""
    import os
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "tools"))
    from scaling import synth_documents

    n = 500
    docs = synth_documents(spark, n).cache()
    try:
        assert docs.count() == n
        assert docs.select("text").distinct().count() == n
        # token lengths span the declared 60..200 band
        ntok = docs.select(
            F.size(F.split("text", " ")).alias("k")).agg(
            F.min("k"), F.max("k")).first()
        assert ntok[0] >= 60 and ntok[1] <= 200
        # no 5-token shingle appears in more than one document
        sh = docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.size(F.split("text", " ")) - 5
                    ),
                    lambda i: F.array_join(
                        F.slice(F.split("text", " "), i + 1, 5), " "
                    ),
                )
            ).alias("shingle"),
        )
        cross_doc = (
            sh.groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("n_docs"))
            .where(F.col("n_docs") > 1)
            .count()
        )
        assert cross_doc == 0
    finally:
        docs.unpersist()


def test_av1_obu_codec():
    """AV1 OBU walk against the AOM spec layouts: sequence-header bit
    decode in both header forms (reduced still-picture and full
    operating-point, with and without the timing_info block), leb128
    size fields, extension-header skip, level>7 seq_tier bit, and the
    ValueError contracts (forbidden/reserved bits, missing size field,
    size overrun, no sequence header)."""
    import pytest as _pytest

    from torcdb_spark.operators.av1 import (
        av1_obu_census,
        encode_av1_stream,
        encode_sequence_header,
        parse_sequence_header,
    )

    for reduced in (False, True):
        for timing in ((False, True) if not reduced else (False,)):
            for w, h, lvl in ((1920, 1080, 8), (640, 360, 5),
                              (33, 17, 12), (1, 1, 0), (65536, 65536, 31)):
                seq = encode_sequence_header(w, h, 0, lvl, reduced, timing)
                got = parse_sequence_header(seq)
                assert (got["width"], got["height"],
                        got["seq_level_idx"]) == (w, h, lvl), (
                    reduced, timing, w, h)

    s = encode_av1_stream(1280, 720, n_frames=4, seq_level_idx=9)
    c = av1_obu_census(s)
    assert c["n_frames"] == 4 and c["n_temporal_delim"] == 5
    assert c["n_seq_hdr"] == 1 and c["n_obus"] == 12
    assert c["width"] == 1280 and c["height"] == 720
    assert c["n_metadata"] == 1 and c["n_padding"] == 1
    assert c["total_bytes"] == len(s)

    with _pytest.raises(ValueError):  # forbidden bit
        av1_obu_census(b"\x80\x02xx")
    with _pytest.raises(ValueError):  # reserved bit
        av1_obu_census(b"\x13\x02xx")
    with _pytest.raises(ValueError):  # no size field
        av1_obu_census(bytes([2 << 3]) + b"xx")
    with _pytest.raises(ValueError):  # size overruns payload
        av1_obu_census(bytes([(6 << 3) | 2, 0x20]) + b"xx")
    with _pytest.raises(ValueError):  # no sequence header
        av1_obu_census(bytes([(2 << 3) | 2, 0]))


def test_docx_text_and_xlsx_census(spark):
    """WordprocessingML text extraction and SpreadsheetML census over
    hand-built parts: run concatenation without separators, tab/br
    runs, entity decode, instrText/pPr/rPr skip; sheet counting, typed
    cell counts, sharedStrings indirection, blank cells."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.operators.ooxml import xlsx_sheet_census
    from torcdb_spark.operators.text import docx_text

    xml = (
        '<?xml version="1.0"?><w:document><w:body>'
        "<w:p><w:pPr/><w:r><w:instrText> PAGE </w:instrText></w:r>"
        "<w:r><w:rPr><w:b/></w:rPr><w:t>Hel</w:t></w:r>"
        "<w:r><w:t>lo &amp; &lt;hi&gt;</w:t></w:r></w:p>"
        '<w:p><w:r><w:t xml:space="preserve">a </w:t></w:r>'
        "<w:r><w:tab/></w:r><w:r><w:t>b</w:t></w:r>"
        "<w:r><w:br/></w:r><w:r><w:t>c</w:t></w:r></w:p>"
        "<w:sectPr/></w:body></w:document>"
    )
    df = spark.createDataFrame([Row(x=xml)])
    got = df.select(docx_text(F.col("x")).alias("t")).first().t
    assert got == "Hello & <hi> a b c"

    members = spark.createDataFrame([
        Row(path="wb.xlsx", member="xl/workbook.xml",
            payload=bytearray(
                b'<workbook><sheets><sheet name="S1" sheetId="1"/>'
                b'<sheet name="S2" sheetId="2"/></sheets></workbook>')),
        Row(path="wb.xlsx", member="xl/sharedStrings.xml",
            payload=bytearray(
                b"<sst><si><t>x &amp; y</t></si>"
                b'<si><t xml:space="preserve"> z</t></si></sst>')),
        Row(path="wb.xlsx", member="xl/worksheets/sheet1.xml",
            payload=bytearray(
                b'<worksheet><sheetData><row r="1">'
                b'<c r="A1" t="s"><v>0</v></c><c r="B1"><v>7</v></c>'
                b'</row><row r="2"><c r="A2" t="s"><v>1</v></c>'
                b'<c r="B2"><v>41</v></c><c r="C2"/></row>'
                b"</sheetData></worksheet>")),
    ])
    row = xlsx_sheet_census(members).first()
    assert row.n_sheets == 2 and row.n_cells == 5
    assert row.n_string_cells == 2 and row.n_number_cells == 2
    assert row.a1_text == "x & y" and row.b2_value == 41


def test_hevc_nal_codec():
    """HEVC NAL walk against the ITU-T H.265 layouts: SPS bit decode
    through the full profile_tier_level block (sub-layer flag
    alignment included), conformance-window cropping in 4:2:0 units,
    both Annex-B and length-prefixed framings, IRAP/IDR
    classification, and the ValueError contracts (forbidden bit, zero
    nuh_temporal_id_plus1, no SPS)."""
    import pytest as _pytest

    from torcdb_spark.operators.h264 import _strip_emulation
    from torcdb_spark.operators.hevc import (
        encode_hevc_sps,
        encode_hevc_stream,
        hevc_nal_census,
        parse_hevc_sps,
    )

    for msl in (0, 2):
        for w, h, p, lv in ((1920, 1080, 1, 120), (1280, 720, 2, 93),
                            (100, 60, 1, 63), (2, 2, 1, 30)):
            sps = encode_hevc_sps(w, h, 3, 1, profile_idc=p,
                                  level_idc=lv, max_sub_layers_minus1=msl)
            got = parse_hevc_sps(_strip_emulation(sps[2:]))
            assert got == {"profile_idc": p, "level_idc": lv,
                           "width": w, "height": h}, (msl, w, h)

    for avcc in (False, True):
        s = encode_hevc_stream(1918, 1080, n_gops=3, p_per_gop=2,
                               avcc=avcc)
        c = hevc_nal_census(s)
        assert (c["width"], c["height"]) == (1918, 1080)  # 8-px grid crop
        assert c["n_vps"] == c["n_sps"] == c["n_pps"] == 1
        assert c["n_idr"] == c["n_irap"] == 3 and c["n_slices"] == 9
        assert c["n_nalus"] == 12 and c["total_bytes"] == len(s)

    with _pytest.raises(ValueError):
        hevc_nal_census(b"")
    with _pytest.raises(ValueError):  # forbidden bit
        hevc_nal_census(b"\x00\x00\x00\x01\x80\x01xx")
    with _pytest.raises(ValueError):  # nuh_temporal_id_plus1 == 0
        hevc_nal_census(b"\x00\x00\x00\x01\x02\x00xx")
    with _pytest.raises(ValueError):  # no SPS
        hevc_nal_census(b"\x00\x00\x00\x01\x40\x01xx")


def test_pptx_text(spark):
    """DrawingML slide extraction: separator-free <a:t> run concat,
    <a:br/> whitespace, rPr skip, entity decode, paragraph
    boundaries."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.operators.ooxml import pptx_text

    xml = (
        "<p:sld><p:cSld><p:spTree><p:sp><p:txBody>"
        '<a:p><a:r><a:rPr lang="en"/><a:t>Hel</a:t></a:r>'
        "<a:r><a:t>lo &amp; &lt;x&gt;</a:t></a:r></a:p>"
        '<a:p><a:r><a:t xml:space="preserve">a </a:t></a:r><a:br/>'
        "<a:r><a:t>b</a:t></a:r></a:p>"
        "</p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    df = spark.createDataFrame([Row(x=xml)])
    got = df.select(pptx_text(F.col("x")).alias("t")).first().t
    assert got == "Hello & <x> a b"


def test_markdown_to_text(spark):
    """Markdown strip chain over hand-built cases: fence content
    preserved, image alt vs link anchor, header/quote/bullet/hr line
    markers, bold-before-italic ordering, inline code, and backslash
    escapes surviving the emphasis passes."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.operators.text import markdown_to_text

    cases = [
        ("# Title\n\nplain **bold** *it* `code`", "Title plain bold it code"),
        ("```python\nx = 1\n```\nafter", "x = 1 after"),
        ("[anchor](https://e.x/p) and ![alt](i.png)", "anchor and alt"),
        ("> quoted line\n- bullet one\n2. numbered",
         "quoted line bullet one numbered"),
        ("above\n\n---\n\nbelow", "above below"),
        (r"literal \* star and \[bracket\]", "literal * star and [bracket]"),
        ("__strong__ _em_", "strong em"),
    ]
    df = spark.createDataFrame([Row(i=i, md=md) for i, (md, _) in
                                enumerate(cases)])
    got = {r.i: r.t for r in df.select(
        "i", markdown_to_text(F.col("md")).alias("t")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_sitemap_entries(spark):
    """Sitemap walk: entity decode in loc, optional-field NULLs,
    comment/namespace tolerance, multi-line whitespace inside tags."""
    from pyspark.sql import Row

    from torcdb_spark.operators.text import sitemap_entries

    xml = (
        '<?xml version="1.0"?><!-- c --><urlset xmlns="x">'
        "<url><loc>https://a.example/?x=1&amp;y=2</loc>"
        "<lastmod>2026-02-03</lastmod><priority>0.8</priority></url>"
        "<url><loc>\n  https://b.example/\n</loc>"
        "<changefreq>weekly</changefreq></url></urlset>"
    )
    df = spark.createDataFrame([Row(doc_id=1, sitemap=xml)])
    rows = {r.url_idx: r for r in sitemap_entries(df).collect()}
    assert rows[0].loc == "https://a.example/?x=1&y=2"
    assert rows[0].lastmod == "2026-02-03" and rows[0].priority == 0.8
    assert rows[0].changefreq is None
    assert rows[1].loc == "https://b.example/"
    assert rows[1].lastmod is None and rows[1].changefreq == "weekly"


def test_eml_message(spark):
    """RFC 5322 parse: folded-header unfolding, bracketed vs bare
    addr-spec, case-insensitive header names, LF-only tolerance,
    missing headers yield NULLs, body preserved byte-exactly."""
    from pyspark.sql import Row

    from torcdb_spark.operators.text import eml_message

    eml = (
        "from: Ann Example <ann@e.x>\r\n"
        "TO: bob@e.y\r\n"
        "Subject: part one\r\n\t and two\r\n"
        "X-Junk: skip\r\n"
        "\r\n"
        "body line 1\r\nbody line 2"
    )
    lf_only = "Subject: s\nFrom: <f@e.z>\n\nb"
    df = spark.createDataFrame([
        Row(doc_id=1, eml=eml), Row(doc_id=2, eml=lf_only)])
    rows = {r.doc_id: r for r in eml_message(df).collect()}
    r1 = rows[1]
    assert r1.subject == "part one and two"  # unfolded to one space
    assert r1.from_addr == "ann@e.x" and r1.to_addr == "bob@e.y"
    assert r1.body == "body line 1\r\nbody line 2"
    assert r1.date is None
    r2 = rows[2]
    assert r2.subject == "s" and r2.from_addr == "f@e.z"
    assert r2.to_addr is None and r2.body == "b"


def test_robots_path_allowed(spark):
    """RFC 9309 path matching: longest-octet specificity, * wildcard,
    $ end anchor (must not match longer paths), allow-wins tie,
    no-match default-allow."""
    from pyspark.sql import Row

    from torcdb_spark.operators.text import robots_path_allowed

    rules = spark.createDataFrame([
        Row(doc_id=1, directive="disallow", value="/p"),
        Row(doc_id=1, directive="allow", value="/pub"),
        Row(doc_id=1, directive="disallow", value="/pub/secret$"),
        Row(doc_id=1, directive="allow", value="/tmp/*.html"),
        Row(doc_id=1, directive="disallow", value="/tmp"),
        Row(doc_id=1, directive="allow", value="/dir"),
        Row(doc_id=1, directive="disallow", value="/dir"),
    ])
    cases = [
        ("/pub/x", True, "/pub"), ("/p/x", False, "/p"),
        ("/pub/secret", False, "/pub/secret$"),
        ("/pub/secrets", True, "/pub"),  # $ anchor must not match
        ("/tmp/a.html", True, "/tmp/*.html"),
        ("/tmp/a.txt", False, "/tmp"),
        ("/other", True, None),  # no match -> allowed
        ("/dir/x", True, "/dir"),  # length tie -> allow wins
    ]
    paths = spark.createDataFrame([
        Row(doc_id=1, path_idx=i, path=p)
        for i, (p, _, _) in enumerate(cases)
    ])
    got = {r.path_idx: r
           for r in robots_path_allowed(rules, paths).collect()}
    for i, (p, allowed, rule) in enumerate(cases):
        assert got[i].allowed == allowed, (p, got[i])
        assert got[i].winning_rule == rule, (p, got[i])


def test_content_type_sniff(spark):
    """Magic sniffing edge cases: RIFF family split by format tag,
    ID3-prefixed vs bare-sync MP3, ftyp at offset 5, ZIP covering the
    OOXML family, unknown fallback never NULL."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.sources.ingest import content_type_sniff

    cases = [
        (b"RIFF\x10\x00\x00\x00WAVEfmt ", "wave"),
        (b"RIFF\x10\x00\x00\x00WEBPVP8 ", "webp"),
        (b"RIFF\x10\x00\x00\x00AVI LIST", "avi"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x00", "mp3"),
        (b"\xff\xfb\x90\x00 bare sync", "mp3"),
        (b"\x00\x00\x00\x18ftypisom", "mp4"),
        (b"PK\x03\x04 docx is zip too", "zip"),
        (b"totally mysterious", "unknown"),
        (b"", "unknown"),
    ]
    df = spark.createDataFrame(
        [Row(i=i, payload=bytearray(p)) for i, (p, _) in enumerate(cases)]
    )
    got = {r.i: r.t for r in df.select(
        "i", content_type_sniff(F.col("payload")).alias("t")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_mbox_and_url_canonicalize(spark):
    """mbox postmark splitting + mboxrd un-escaping, and URL
    canonicalization edge cases (port kept when non-default, params
    without '=', interior fragment-less URLs)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.operators.text import (
        canonicalize_url,
        eml_message,
        mbox_messages,
    )

    mbox = (
        "From a@x Mon Jan  1 00:00:00 2026\n"
        "Subject: one\r\n\r\nbody1\n>From quoted\n"
        "From b@y Tue Jan  2 00:00:00 2026\n"
        "Subject: two\r\n\r\nbody2\n"
    )
    df = spark.createDataFrame([Row(doc_id=1, mbox=mbox)])
    msgs = {r.msg_idx: r for r in mbox_messages(df).collect()}
    assert len(msgs) == 2
    assert "From quoted" in msgs[0].eml and ">From" not in msgs[0].eml
    parsed = {r.msg_idx: r for r in eml_message(
        mbox_messages(df), extra_cols=("msg_idx",)).collect()}
    assert parsed[0].subject == "one" and parsed[1].subject == "two"

    cases = [
        ("HTTP://A.COM:80/x?utm_source=s&z=2&a=1#f", "http://a.com/x?a=1&z=2"),
        ("https://B.org:443/", "https://b.org/"),
        ("https://b.org:8443/", "https://b.org:8443/"),  # non-default kept
        ("http://c.net?ref=r", "http://c.net/"),
        ("http://d.io/p?fbclid=1&gclid=2&msclkid=3", "http://d.io/p"),
    ]
    u = spark.createDataFrame([Row(i=i, url=x) for i, (x, _) in
                               enumerate(cases)])
    got = {r.i: r.c for r in u.select(
        "i", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_html_tables(spark):
    """Table mining edge cases: tables amid prose, attributes on
    every tag, th/td mix, inner markup stripped, colspan cells kept
    as-is, entity decode, tableless pages yield nothing."""
    from pyspark.sql import Row

    from torcdb_spark.operators.text import html_tables

    html = (
        "<p>before</p><TABLE class='x'><tr><th>a &amp; b</th>"
        "<th colspan=2>c</th></tr>"
        "<tr valign='top'><td>some <i>italic</i></td><td> s p </td></tr>"
        "</TABLE><p>no table here</p>"
    )
    df = spark.createDataFrame([
        Row(doc_id=1, html=html),
        Row(doc_id=2, html="<p>tableless</p>"),
    ])
    rows = {(r.doc_id, r.row_idx, r.col_idx): r
            for r in html_tables(df).collect()}
    assert len(rows) == 4
    assert rows[(1, 0, 0)].cell == "a & b" and rows[(1, 0, 0)].is_header
    assert rows[(1, 0, 1)].cell == "c"
    # inner tags strip to whitespace (the html_to_text contract), so
    # the collapse leaves single-spaced words
    assert rows[(1, 1, 0)].cell == "some italic"
    assert not rows[(1, 1, 0)].is_header
    assert rows[(1, 1, 1)].cell == "s p"


def test_access_log_fields(spark):
    """CLF parsing edge cases: combined vs common (no referer/UA
    tail), '-' sentinels, 304 byte dash, malformed lines yield NULL
    fields not errors."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from torcdb_spark.operators.text import access_log_fields

    lines = [
        ('1.2.3.4 - alice [16/Aug/2026:10:00:00 +0000] '
         '"GET /x?a=1 HTTP/1.1" 200 123 "https://r.example/" "UA 1.0"'),
        ('5.6.7.8 - - [16/Aug/2026:10:01:00 +0000] '
         '"HEAD / HTTP/1.0" 304 -'),  # common format, no tail
        ("totally not a log line",),
    ]
    df = spark.createDataFrame(
        [Row(i=i, line=ln if isinstance(ln, str) else ln[0])
         for i, ln in enumerate(lines)]
    )
    got = {r.i: r.f for r in df.select(
        "i", access_log_fields(F.col("line")).alias("f")).collect()}
    assert got[0].host == "1.2.3.4" and got[0].user == "alice"
    assert got[0].method == "GET" and got[0].path == "/x?a=1"
    assert got[0].status == 200 and got[0].bytes == 123
    assert got[0].referer == "https://r.example/"
    assert got[1].user is None and got[1].method == "HEAD"
    assert got[1].status == 304 and got[1].bytes == 0
    assert got[1].referer is None and got[1].user_agent is None
    assert got[2].host is None and got[2].status is None


def test_opus_packet_census():
    """RFC 6716 TOC walk: Table-2 anchors, all four frame-count codes,
    the granule cross-check, and the ValueError contracts (non-Opus
    stream, truncated code-3 packet, M x duration > 120 ms)."""
    import pytest as _pytest

    from torcdb_spark.operators.multimodal import (
        _OPUS_CONFIGS,
        _ogg_page,
        encode_ogg_stub,
        encode_opus_packets,
        opus_packet_census,
    )

    assert len(_OPUS_CONFIGS) == 32
    assert _OPUS_CONFIGS[0] == ("silk", "nb", 480)
    assert _OPUS_CONFIGS[11] == ("silk", "wb", 2880)
    assert _OPUS_CONFIGS[12] == ("hybrid", "swb", 480)
    assert _OPUS_CONFIGS[16] == ("celt", "nb", 120)
    assert _OPUS_CONFIGS[31] == ("celt", "fb", 960)

    tocs = [
        (0, False, 0, 1),    # code 0: one 10 ms SILK NB frame
        (17, True, 1, 2),    # code 1: two CBR CELT NB 5 ms frames
        (12, False, 2, 2),   # code 2: two VBR hybrid frames
        (31, True, 3, 2),    # code 3: count byte, two CELT FB frames
    ]
    rows = opus_packet_census(encode_opus_packets(tocs, pre_skip=100))
    assert [r["config"] for r in rows] == [0, 17, 12, 31]
    assert [r["n_frames"] for r in rows] == [1, 2, 2, 2]
    assert [r["pkt_samples"] for r in rows] == [480, 480, 960, 1920]
    assert [r["mode"] for r in rows] == ["silk", "celt", "hybrid",
                                         "celt"]
    assert [r["bandwidth"] for r in rows] == ["nb", "nb", "swb", "fb"]
    assert all(r["granule_match"] for r in rows)

    # a wrong final granule must flip the cross-check, not pass
    ident = (b"OpusHead" + bytes([1, 2]) + (100).to_bytes(2, "little")
             + (48000).to_bytes(4, "little") + bytes(2) + bytes([0]))
    wrong = (_ogg_page(0x02, 0, 1, 0, [ident])
             + _ogg_page(0x04, 99999, 1, 1, [bytes([0, 0, 0])]))
    assert not opus_packet_census(wrong)[0]["granule_match"]

    with _pytest.raises(ValueError):  # vorbis stream into the opus walk
        opus_packet_census(encode_ogg_stub("vorbis"))
    # code-3 packet truncated before its count byte
    trunc = (_ogg_page(0x02, 0, 1, 0, [ident])
             + _ogg_page(0x04, 480, 1, 1, [bytes([0x03])]))
    with _pytest.raises(ValueError):
        opus_packet_census(trunc)
    # code-3 M x duration over the 120 ms bound (config 3 = 60 ms x 3)
    over = (_ogg_page(0x02, 0, 1, 0, [ident])
            + _ogg_page(0x04, 480, 1, 1, [bytes([(3 << 3) | 3, 3, 0])]))
    with _pytest.raises(ValueError):
        opus_packet_census(over)
