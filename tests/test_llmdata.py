"""Invariant tests for the LLM-data extension operators that are not
oracle-checkable: MinHash/LSH finds planted near-dups, SimHash is stable,
IVF recall vs brute force, multimodal plumbing, BLAS similarity path."""

from __future__ import annotations

from pyspark.sql import functions as F

from smart_water_management_spark.llmdata import dedup, multimodal, similarity
from smart_water_management_spark.sources.catalog import load_table

from .conftest import SF_DIR


def _docs_with_planted_dups(spark):
    base = (
        "spark query engine shuffle partition broadcast join window "
        "aggregate filter scan parquet column predicate pushdown codegen"
    )
    near = base.replace("codegen", "runtime")  # 1 token of 16 differs
    far = "completely different words about gardening tulips roses soil water sun"
    rows = [
        (1, base),
        (2, base),        # exact dup of 1
        (3, near),        # near dup of 1 (jaccard ~0.88)
        (4, far),
        (5, "a b"),       # degenerate short doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_planted_dups(spark):
    docs = _docs_with_planted_dups(spark)
    sigs = dedup.minhash_signatures(docs)
    assert sigs.count() == 5 and len(sigs.columns) == 1 + dedup.MINHASH_K
    pairs = dedup.lsh_candidate_pairs(sigs)
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.verify_jaccard(docs, pairs, threshold=0.5).collect()
    }
    assert (1, 2) in verified and verified[(1, 2)] == 1.0
    assert (1, 3) in verified and 0.8 < verified[(1, 3)] < 1.0
    assert all(4 not in p for p in verified)


def test_simhash_identical_docs_same_signature(spark):
    docs = _docs_with_planted_dups(spark)
    # signatures are 16-hex-char strings (SQL-reproducible form)
    sigs = {r.doc_id: int(r.simhash, 16) for r in dedup.simhash64(docs).collect()}
    assert sigs[1] == sigs[2]  # identical text → identical simhash
    # near-dup differs in few bits
    ham = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham <= 12
    # unrelated text differs in many bits
    assert bin(sigs[1] ^ sigs[4]).count("1") > ham


def test_ivf_recall_vs_bruteforce(spark):
    exact = similarity.x10_bruteforce_cosine_topk(spark, SF_DIR)
    approx = similarity.x12_ivf_topk(spark, SF_DIR)
    e = {(r.qid, r.vec_id) for r in exact.collect()}
    a = {(r.qid, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_bruteforce_pandas_path_matches_fold(spark):
    em = load_table(spark, SF_DIR, "embeddings")
    blas = similarity.bruteforce_topk_pandas(em)
    fold = similarity.x10_bruteforce_cosine_topk(spark, SF_DIR)
    b = {(r.qid, r.vec_id, r.rn) for r in blas.collect()}
    f = {(r.qid, r.vec_id, r.rn) for r in fold.collect()}
    assert b == f


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SF_DIR, "documents")
    mm = multimodal.to_multimodal(docs)
    assert dict(mm.dtypes)["payload"] == "binary"
    feats = multimodal.extract_features(mm)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(0 <= r.byte_mean <= 255 for r in rows)
    assert all(r.frame_count >= 1 for r in rows)
    # real decode is PIL-gated: without the optional dependency it must
    # refuse loudly rather than fake results
    import pandas as pd
    import pytest

    if multimodal._pil() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_payload(
                pd.DataFrame({"payload": [b"x"], "mime": ["image/png"]}), real=True
            )


def test_vendored_png_codec_roundtrip_all_filters():
    """The pure-Python PNG codec (VERDICT r4 #7: un-skips the real-decode
    path without PIL): encode→decode must be the identity for every PNG
    filter type, so all five decoder unfilter branches are driven by real
    encoded files; luma + thumbnail kernels behave."""
    from smart_water_management_spark.llmdata import png_codec

    w, h = 13, 9  # odd sizes catch stride bugs
    pixels = bytes((x * 7 + y * 31) % 256 for y in range(h) for x in range(w))
    for ftype in range(5):
        data = png_codec.encode_png_gray(w, h, pixels, filter_type=ftype)
        assert png_codec.is_png(data)
        dw, dh, ch, out = png_codec.decode_png(data)
        assert (dw, dh, ch) == (w, h, 1)
        assert out == pixels, f"roundtrip failed for filter {ftype}"
    # ITU-R 601-2 luma parity contract with PIL's convert("L")
    rgb = bytes([200, 100, 50])
    assert png_codec.to_gray(1, 1, 3, rgb)[0] == (200 * 299 + 100 * 587 + 50 * 114) // 1000
    # thumbnail: constant image stays constant, bounded dims, no upscale
    tw, th, tpx = png_codec.thumbnail_gray(64, 32, bytes([128]) * (64 * 32))
    assert max(tw, th) <= 8 and set(tpx) == {128}
    assert png_codec.thumbnail_gray(4, 4, bytes(16)) == (4, 4, bytes(16))


def test_real_decode_path_works_without_pil(spark):
    """decode_payload(real=True) and resize_payloads(use_codec=True) must
    actually decode PNG payloads in THIS sandbox (no PIL), via the
    vendored codec — the round-4 skip is gone. Non-PNG bytes still refuse
    loudly when PIL is absent."""
    import io

    import pandas as pd
    import pytest

    from smart_water_management_spark.llmdata import png_codec

    w, h = 16, 16
    pixels = bytes((x * 16 + y) % 256 for y in range(h) for x in range(w))
    png = png_codec.encode_png_gray(w, h, pixels, filter_type=2)

    feats = multimodal.decode_payload(
        pd.DataFrame({"payload": [png], "mime": ["image/png"]}), real=True
    )
    assert feats[0][0] == sum(pixels) / len(pixels)  # true pixel mean
    assert feats[0][2] == 1

    mm = spark.createDataFrame(
        [(1, png, ("image/png", len(png), "test"))],
        "doc_id long, payload binary, meta struct<mime:string,n_bytes:long,origin:string>",
    )
    row = multimodal.resize_payloads(mm, use_codec=True).collect()[0]
    assert png_codec.is_png(bytes(row.thumb))  # a real PNG came back
    tw, th, ch, tpx = png_codec.decode_png(bytes(row.thumb))
    assert max(tw, th) <= 8 and ch == 1

    if multimodal._pil() is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_payload(
                pd.DataFrame({"payload": [b"\xff\xd8notapng"], "mime": ["image/jpeg"]}),
                real=True,
            )


def test_gif_lzw_decode_compressed_streams():
    """r12 decoder-internals regression: the vendored encoder emits only
    LITERAL codes, so the roundtrip test never drives the decoder's
    table-entry branches (code < len(table) multi-byte entries, the
    code == len(table) KwKwK case, width bumps at table growth). A tiny
    reference LZW COMPRESSOR here produces genuinely compressed streams
    over assorted pixel patterns; the r12 byte-accumulator bit reader,
    memoized base table and translate-based luma must decode them all
    back to the exact pixels. Also pins the truncation error."""
    import struct

    import pytest

    from smart_water_management_spark.llmdata import gif_codec as gc

    def lzw_compress(min_code_size: int, pixels: bytes) -> bytes:
        # classic GIF LZW with table growth + CLEAR at 4096 (12-bit cap)
        clear, end = 1 << min_code_size, (1 << min_code_size) + 1
        bw = gc._BitWriter()
        def fresh():
            return {bytes([i]): i for i in range(clear)}, end + 1, min_code_size + 1
        table, nxt, width = fresh()
        bw.write(clear, width)
        prev = b""
        for px in pixels:
            cur = prev + bytes([px])
            if cur in table:
                prev = cur
                continue
            bw.write(table[prev], width)
            table[cur] = nxt
            nxt += 1
            if nxt - 1 == (1 << width) and width < 12:
                width += 1
            if nxt == 4096:
                bw.write(clear, width)
                table, nxt, width = fresh()
            prev = bytes([px])
        if prev:
            bw.write(table[prev], width)
        bw.write(end, width)
        return bw.flush()

    def gif_with_stream(w, h, stream, min_code=8):
        out = bytearray(b"GIF89a")
        out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
        for i in range(256):
            out += bytes((i, i, i))
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
        out.append(min_code)
        for off in range(0, len(stream), 255):
            chunk = stream[off : off + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00\x3b"
        return bytes(out)

    patterns = [
        bytes([7] * 400),                                   # KwKwK-heavy runs
        bytes((i % 251 for i in range(4096))),              # width growth
        bytes((i * i % 256 for i in range(1000))),
        b"abcabcabcabcABCABC" * 40,                         # repeats
        bytes(range(256)) * 20,                             # 5120 px, deep table
    ]
    for px in patterns:
        w = 40
        h = len(px) // w
        px = px[: w * h]
        gif = gif_with_stream(w, h, lzw_compress(8, px))
        frames = gc.decode_gif(gif)
        assert frames == [(w, h, px)], "compressed-LZW decode mismatch"

    # an LZW stream that ends before yielding n_pixels still raises the
    # reader's exact truncation error (container framing kept intact)
    short = lzw_compress(8, bytes(100))[:-3]
    with pytest.raises(ValueError, match="truncated LZW stream"):
        gc.decode_gif(gif_with_stream(10, 10, short))


def test_vendored_gif_codec_and_real_frame_sampling(spark):
    """The pure-Python GIF codec: multi-frame encode→decode is the
    identity (drives the real LZW bit paths), and
    sample_frames(use_codec=True) extracts GENUINE decoded frames —
    true pixel sizes, pixel-content hashes, every-4th selection — from an
    animated payload, with identical duplicate frames hashing equal for
    frame-level dedup."""
    import zlib

    from smart_water_management_spark.llmdata import gif_codec

    w, h = 16, 12
    def frame(k):
        return (w, h, bytes((x * 7 + y * 11 + k * 31) % 256
                            for y in range(h) for x in range(w)))

    # 9 frames; frames 0 and 8 identical → their sampled hashes must match
    frames = [frame(k) for k in [0, 1, 2, 3, 4, 5, 6, 7, 0]]
    gif = gif_codec.encode_gif_gray(frames)
    assert gif_codec.decode_gif(gif) == frames  # roundtrip through real LZW

    mm = spark.createDataFrame(
        [(1, gif, ("video/gif", len(gif), "test"))],
        "doc_id long, payload binary, meta struct<mime:string,n_bytes:long,origin:string>",
    )
    rows = sorted(
        multimodal.sample_frames(mm, use_codec=True).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [0, 4, 8]  # every 4th of 9
    assert all(r.frame_bytes == w * h for r in rows)  # true pixel sizes
    assert rows[0].frame_hash == rows[2].frame_hash  # duplicate frames agree
    assert rows[0].frame_hash == zlib.crc32(frames[0][2])
    assert rows[1].frame_hash != rows[0].frame_hash


def test_real_wav_decode_via_stdlib():
    """audio/wav real decode runs everywhere via the stdlib wave module:
    a synthesized PCM16 sine wave yields the analytically expected mean
    |amplitude| and frame count; malformed audio still refuses."""
    import io
    import math
    import struct
    import wave

    import pandas as pd
    import pytest

    buf = io.BytesIO()
    n, amp = 800, 16000
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(
        b"".join(
            struct.pack("<h", int(amp * math.sin(2 * math.pi * i / 80)))
            for i in range(n)
        )
    )
    w.close()
    feats = multimodal.decode_payload(
        pd.DataFrame({"payload": [buf.getvalue()], "mime": ["audio/wav"]}), real=True
    )
    mean_amp, lvl_frac, frames = feats[0]
    assert frames == n
    # mean |sin| = 2/pi; scaled to the byte domain: amp/2^15 * 255 * 2/pi
    expect = amp / 32768.0 * 255.0 * 2.0 / math.pi
    assert abs(mean_amp - expect) < 1.0
    assert 0.0 < lvl_frac <= 1.0
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(
            pd.DataFrame({"payload": [b"ID3notawav"], "mime": ["audio/mp3"]}),
            real=True,
        )


def test_multimodal_real_codec_when_pil_present(spark):
    """With PIL installed, the image path really decodes and thumbnails;
    skipped (not faked) when the optional dependency is absent."""
    import pytest

    Image = multimodal._pil()
    if Image is None:
        pytest.skip("PIL not installed — real-codec path unavailable")
    import io

    import pandas as pd

    img = Image.new("L", (64, 64), color=128)
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    png = buf.getvalue()

    feats = multimodal.decode_payload(
        pd.DataFrame({"payload": [png], "mime": ["image/png"]}), real=True
    )
    assert feats[0][0] == 128.0  # mean pixel of a constant image

    mm = spark.createDataFrame(
        [(1, png, ("image/png", len(png), "test"))],
        "doc_id long, payload binary, meta struct<mime:string,n_bytes:long,origin:string>",
    )
    row = multimodal.resize_payloads(mm, use_codec=True).collect()[0]
    assert row.thumb_bytes < len(png)
    assert bytes(row.thumb[:8]) == b"\x89PNG\r\n\x1a\n"  # a real PNG came back
    thumb_img = Image.open(io.BytesIO(bytes(row.thumb)))
    assert max(thumb_img.size) <= 8


def test_ml_invariants(spark):
    from smart_water_management_spark.ml import analytics

    clusters = analytics.kmeans_cluster_profile(spark, SF_DIR).collect()
    assert len(clusters) == 5
    assert sum(r.n_events for r in clusters) == 10000 or sum(
        r.n_events for r in clusters
    ) == load_table(spark, SF_DIR, "events").count()

    inv = analytics.m01_kmeans_clusters(spark, SF_DIR).collect()
    assert sorted(r.cluster for r in inv) == [0, 1, 2, 3, 4]
    assert all(r.is_nonempty and r.n_clusters == 5 for r in inv)
    assert inv[0].total_events == load_table(spark, SF_DIR, "events").count()

    rmse_row = analytics.m03_rf_forecast(spark, SF_DIR).collect()[0]
    assert rmse_row.rmse > 0 and rmse_row.n_train > rmse_row.n_test
    assert rmse_row.rmse_valid and rmse_row.temporal_split_ok

    corr = {(r.type_a, r.type_b): r.pearson for r in
            analytics.m04_correlation_matrix(spark, SF_DIR).collect()}
    assert corr[("click", "click")] == 1.0
    for (a, b), v in corr.items():
        assert abs(v - corr[(b, a)]) < 1e-9


def test_connected_components_chain(spark):
    """Pairs a-b, b-c, plus a separate d-e must yield components {1,2,3}
    labeled 1 and {7,8} labeled 7 — transitive closure, not pairwise."""
    from smart_water_management_spark.llmdata.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_connected_components_long_chain(spark):
    """A 12-node path graph converges to one component within the round
    bound (label propagation halves distance-to-min each round)."""
    from smart_water_management_spark.llmdata.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "doc_a long, doc_b long"
    )
    comps = {r.component for r in connected_components(pairs).collect()}
    assert comps == {100}


def test_connected_components_diameter_beyond_round_budget(spark):
    """Regression for the sf0.1 x87 failure: a 200-node path graph has
    diameter 199 — plain min-label propagation needs ~199 rounds and
    blew MAX_ROUNDS=20; pointer jumping (label := label(label) each
    round) must collapse it within the same budget, because the
    distance-to-min now shrinks geometrically, not linearly."""
    from smart_water_management_spark.llmdata.components import (
        MAX_ROUNDS,
        connected_components,
    )

    n = 200
    assert n - 1 > MAX_ROUNDS  # the test is vacuous otherwise
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1000 + n - 1)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert set(got.values()) == {1000}
    assert len(got) == n


def test_dedup_corpus_keeps_one_canonical_per_group(spark):
    from smart_water_management_spark.llmdata.components import dedup_corpus

    docs = _docs_with_planted_dups(spark)
    out = dedup_corpus(docs).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1
        assert canon[0].doc_id == min(m.doc_id for m in members) == comp
    # docs 1,2,3 are mutual near-dups → one group; 4 and 5 stand alone
    comp_of = {r.doc_id: r.component for r in out}
    assert comp_of[1] == comp_of[2] == comp_of[3] == 1
    assert comp_of[4] == 4 and comp_of[5] == 5


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization must keep ~all of the exact top-k: recall@5 >= 0.8
    overall and top-1 agreement >= 0.9 across the query set."""
    from smart_water_management_spark.llmdata import similarity as sim

    exact = sim.x10_bruteforce_cosine_topk(spark, SF_DIR).collect()
    quant = sim.x17_quantized_cosine_topk(spark, SF_DIR).collect()
    ex = {}
    qu = {}
    for r in exact:
        ex.setdefault(r.qid, []).append((r.rn, r.vec_id))
    for r in quant:
        qu.setdefault(r.qid, []).append((r.rn, r.vec_id))
    assert ex.keys() == qu.keys()
    hits = total = top1 = 0
    for qid in ex:
        e_set = {v for _, v in ex[qid]}
        q_set = {v for _, v in qu[qid]}
        hits += len(e_set & q_set)
        total += len(e_set)
        top1 += min(ex[qid])[1] == min(qu[qid])[1]
    assert hits / total >= 0.8, f"recall@5 {hits/total:.2f}"
    assert top1 / len(ex) >= 0.9, f"top-1 agreement {top1/len(ex):.2f}"


def test_curation_operators(spark):
    """x21-x23 invariants beyond the oracle parity check."""
    from smart_water_management_spark.llmdata import curation

    docs = load_table(spark, SF_DIR, "documents")

    # x22: the row-level sampler must reconcile exactly with its audit
    # aggregate, and be idempotent (pure function of the key)
    audit = {
        r.lang: (r.n_total, r.n_sampled)
        for r in curation.x22_stratified_sample(spark, SF_DIR).collect()
    }
    sampled = curation.stratified_sample_rows(docs)
    got = {
        r.lang: r.n
        for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, (_total, n_sampled) in audit.items():
        assert got.get(lang, 0) == n_sampled
    # idempotent: a pure function of the key samples the same rows again
    assert sampled.count() == curation.stratified_sample_rows(docs).count()

    # x23: no benchmark doc may appear in the contamination report, and
    # every reported doc must genuinely share a run (n_shared >= 1)
    rep = curation.x23_benchmark_contamination(spark, SF_DIR).collect()
    assert all(r.doc_id % 10 != 0 for r in rep)
    assert all(r.n_shared_ngrams >= 1 for r in rep)

    # x21: filters partition the corpus; metrics bounded
    rows = curation.x21_gopher_quality_filters(spark, SF_DIR).collect()
    assert len(rows) == docs.count()
    assert all(0.0 <= r.dup_word_frac <= 1.0 for r in rows)
    assert all(0.0 <= r.stopword_frac <= 1.0 for r in rows)


def test_semdedup_prunes_planted_duplicates(spark):
    """SemDeDup with planted near-identical vectors: every non-canonical
    copy is pruned (kept_neighbor = the smallest id in its dup set),
    distinct vectors survive, and nothing is pruned without a genuine
    above-threshold neighbor (precision 1 by construction — within-cell
    cosine is exact)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16))
    rows = []
    vid = 0
    for i, v in enumerate(base):
        for _copy in range(3 if i < 2 else 1):  # vecs 0,1 get 2 near-copies
            noisy = v + rng.normal(scale=1e-3, size=16)
            rows.append((vid, i, [float(x) for x in noisy]))
            vid += 1
    em = spark.createDataFrame(rows, "vec_id long, label int, e array<double>")
    out = {r.vec_id: r for r in similarity.semdedup_prune(em, n_cells=4).collect()}
    assert len(out) == vid
    # copy-groups: (0,1,2) from base 0, (3,4,5) from base 1; canonicals 0,3
    for canon, copies in ((0, (1, 2)), (3, (4, 5))):
        assert not out[canon].pruned
        for c in copies:
            assert out[c].pruned and out[c].kept_neighbor == canon
            assert out[c].max_cos > 0.99
    # singletons (distinct directions) all survive
    assert all(not out[v].pruned for v in range(6, vid))


def test_temperature_mixture_invariants(spark):
    """x30: weights are a probability distribution, rates are valid
    per-source keep probabilities, and the realized draw lands near the
    target (md5 prefixes are uniform, so per-source counts concentrate)."""
    from smart_water_management_spark.llmdata.curation import (
        MIX_TARGET,
        x30_temperature_mixture,
    )

    rows = x30_temperature_mixture(spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert 0.0 <= r.sample_rate <= 1.0
        assert 0 <= r.n_sampled <= r.n_docs
    drawn = sum(r.n_sampled for r in rows)
    expected = sum(min(r.n_docs, r.sample_rate * r.n_docs) for r in rows)
    assert expected <= MIX_TARGET * 1.01
    # binomial concentration: realized within ~5 sigma of expectation
    assert abs(drawn - expected) < 5 * (expected**0.5 + 1)


def test_simhash_hamming_pairs_planted(spark):
    """x35's banded candidate join must find the exact-dup pair (Hamming 0)
    and never emit a pair above the threshold; recall for Hamming<=3 is
    exact by pigeonhole, so the planted identical docs MUST appear."""
    from smart_water_management_spark.llmdata.dedup import (
        HAMMING_T,
        simhash64,
        simhash_hamming_pairs,
    )

    docs = _docs_with_planted_dups(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(simhash64(docs)).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text -> identical signature
    assert all(h <= HAMMING_T for h in pairs.values())
    # the unrelated doc 4 differs in many bits from 1/2 (asserted in the
    # simhash test above) and must not pair with them
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_incremental_lsh_equals_full_run_on_delta_pairs(spark):
    """x39's incremental probe must return EXACTLY the full x08 pair set
    restricted to pairs involving a delta doc — deterministic hashes, no
    recall loss from incrementality."""
    from smart_water_management_spark.llmdata.dedup import DELTA_PRED
    from smart_water_management_spark.registry import _REGISTRY

    full = _REGISTRY["x08_minhash_lsh_dedup"].fn(spark, SF_DIR).collect()
    inc = _REGISTRY["x39_incremental_lsh"].fn(spark, SF_DIR).collect()

    def is_delta(doc_id):
        return doc_id % 10 == 7  # mirrors DELTA_PRED

    assert "% 10 = 7" in DELTA_PRED
    want = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in full
        if is_delta(r["doc_a"]) or is_delta(r["doc_b"])
    }
    got = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9)) for r in inc}
    assert got == want
    assert all(j >= 0.5 for _, _, j in got)


def test_tile_dedup_conservation(spark):
    """x36 keep-first conservation: exactly one occurrence of every
    distinct tile survives, so summed kept tiles == distinct tile count,
    and kept <= total with equality iff no duplication."""
    from smart_water_management_spark.registry import _REGISTRY

    out = _REGISTRY["x36_tile_dedup"].fn(spark, SF_DIR)
    row = out.agg(
        F.sum("n_tiles").alias("total"),
        F.sum("n_kept_tiles").alias("kept"),
        F.sum("n_dup_tiles").alias("dups"),
    ).first()
    from smart_water_management_spark.llmdata.dedup import TILE
    from smart_water_management_spark.llmdata.text import tokens as _tokens

    d = load_table(spark, SF_DIR, "documents")
    tile_list = (
        f"transform(sequence(0, size(tk) div {TILE} - 1), "
        f"i -> md5(concat_ws(' ', slice(tk, i * {TILE} + 1, {TILE}))))"
    )
    distinct_tiles = (
        d.withColumn("tk", _tokens("text"))
        .filter(F.size("tk") >= TILE)
        .select(F.explode(F.expr(tile_list)).alias("h"))
        .distinct()
        .count()
    )
    assert row["kept"] == distinct_tiles
    assert row["kept"] <= row["total"]
    assert row["dups"] > 0  # fixture contains genuine duplication


def test_token_chunking_coverage_invariants(spark):
    """x38 chunk arithmetic: chunk count matches the ceiling formula,
    the first chunk opens on the first token, the last chunk closes on
    the last token (every token covered), and no chunk exceeds CHUNK."""
    from smart_water_management_spark.llmdata.curation import CHUNK, CHUNK_STRIDE
    from smart_water_management_spark.llmdata.text import tokens as _tokens
    from smart_water_management_spark.registry import _REGISTRY

    out = _REGISTRY["x38_token_chunking"].fn(spark, SF_DIR)
    d = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.size(_tokens("text")).alias("n"),
            F.element_at(_tokens("text"), 1).alias("first_tok"),
            F.element_at(_tokens("text"), -1).alias("last_tok"),
        )
    )
    per_doc = out.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("max_idx"),
        F.min_by("first_word", "chunk_idx").alias("first_word"),
        F.max_by("last_word", "chunk_idx").alias("last_word"),
        F.max("chunk_tokens").alias("max_ct"),
        F.min("chunk_tokens").alias("min_ct"),
    )
    j = per_doc.join(d, "doc_id")
    expected_chunks = F.when(F.col("n") <= CHUNK, F.lit(1)).otherwise(
        F.expr(f"(n - {CHUNK} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE} + 1")
    )
    bad = j.filter(
        (F.col("max_idx") + 1 != expected_chunks)
        | (F.col("first_word") != F.col("first_tok"))
        | (F.col("last_word") != F.col("last_tok"))
        | (F.col("max_ct") > CHUNK)
        | (F.col("min_ct") < 1)
    )
    assert bad.count() == 0
    assert j.count() > 0


def test_hyperplane_lsh_recall_vs_bruteforce(spark):
    """x41's banded sign-projection buckets must recover most of the
    exact top-k (same bar as x12's IVF recall test), and every returned
    similarity must match the exact computation (re-rank is exact)."""
    exact = similarity.x10_bruteforce_cosine_topk(spark, SF_DIR)
    approx = similarity.x41_hyperplane_lsh_ann(spark, SF_DIR)
    e = {(r.qid, r.vec_id): r.cos_sim for r in exact.collect()}
    a = {(r.qid, r.vec_id): r.cos_sim for r in approx.collect()}
    hits = set(e) & set(a)
    recall = len(hits) / len(e)
    assert recall >= 0.5, f"hyperplane-LSH recall too low: {recall}"
    for key in hits:
        assert abs(e[key] - a[key]) < 1e-9


def test_unigram_drift_matches_true_kl(spark, duck):
    """x45 must equal the full-vocabulary add-one-smoothed KL computed
    independently in pure Python — guarding against the truncation class
    of bug where both engines share the same wrong algebra and oracle
    parity can't see it (absent-word mass was once silently dropped)."""
    import collections
    import math

    from smart_water_management_spark.registry import _REGISTRY

    sp = {
        r["source"]: r["kl_nats"]
        for r in _REGISTRY["x45_unigram_drift"].fn(spark, SF_DIR).collect()
    }
    docs = duck.execute("SELECT source, lower(text) FROM documents").fetchall()
    src_counts = collections.defaultdict(collections.Counter)
    corp = collections.Counter()
    for src, txt in docs:
        ws = txt.split(" ")
        src_counts[src].update(ws)
        corp.update(ws)
    v, nc = len(corp), sum(corp.values())
    for src, got in sp.items():
        ns = sum(src_counts[src].values())
        true_kl = sum(
            ((src_counts[src].get(w, 0) + 1.0) / (ns + v))
            * math.log(
                ((src_counts[src].get(w, 0) + 1.0) / (ns + v))
                / ((cc + 1.0) / (nc + v))
            )
            for w, cc in corp.items()
        )
        assert abs(got - true_kl) < 2e-5, (src, got, true_kl)


def test_label_cohesion_identity_vs_bruteforce(spark):
    """x48's sum-of-pairwise-dots identity (||S||^2 - sum||v||^2 over
    n(n-1)) must equal the literal mean over all ordered intra-label
    pairs — checked brute-force on a planted fixture with one tight and
    one spread label."""
    import itertools

    from smart_water_management_spark.llmdata.similarity import (
        x48_label_cohesion,
    )
    from smart_water_management_spark import state

    vecs = {
        0: [[1.0, 0.0, 0.0], [0.9, 0.1, 0.0], [0.95, 0.05, 0.1]],  # tight
        1: [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [-1.0, 0.0, 0.0]],  # spread
    }
    expected = {}
    for label, vs in vecs.items():
        dots = [
            sum(x * y for x, y in zip(a, b))
            for a, b in itertools.combinations(vs, 2)
        ]
        expected[label] = sum(dots) / len(dots)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        rows = [
            (i, [float(x) for x in v], label)
            for i, (label, v) in enumerate(
                (label, v) for label, vs in vecs.items() for v in vs
            )
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(tmp, "embeddings.parquet"))
        state.clear(spark)
        try:
            got = {
                r.label: r.mean_intra_dot
                for r in x48_label_cohesion(spark, tmp).collect()
            }
        finally:
            state.clear(spark)
    for label, exp in expected.items():
        assert abs(got[label] - exp) < 1e-4, (label, got[label], exp)
    assert got[0] > got[1]  # tight label coheres more than the spread one


def test_pq_topk_recall_vs_exact_l2(spark):
    """x54's PQ+ADC+rerank pipeline must recover most of the exact-L2
    top-k. The ADC scan alone is lossy (4-bit codes); the exact rerank of
    the bounded shortlist is what buys the recall — same production shape
    as FAISS IVFPQ+refine."""
    import numpy as np

    from smart_water_management_spark.llmdata import similarity as sim

    got = sim.x54_pq_topk(spark, SF_DIR).collect()
    em = sorted(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in em])
    mat = np.array([r.embedding for r in em], dtype=np.float64)
    hits = total = 0
    for q in range(sim.N_QUERIES):
        d = ((mat - mat[ids == q][0]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        order = np.lexsort((ids, d))
        exact = set(ids[order[: sim.TOP_K]])
        approx = {r.vec_id for r in got if r.qid == q}
        hits += len(exact & approx)
        total += sim.TOP_K
    assert hits / total >= 0.8, f"PQ recall@{sim.TOP_K} too low: {hits/total:.2f}"
    # per-query contract: exactly TOP_K rows, ranks 1..k, distances sorted
    for q in range(sim.N_QUERIES):
        rows = sorted((r for r in got if r.qid == q), key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, sim.TOP_K + 1))
        dists = [r.l2_dist for r in rows]
        assert dists == sorted(dists)


def test_bpe_apply_matches_pure_python(spark):
    """x55's distributed merge application must equal the pure-Python
    greedy reference on every document (exact, not statistical)."""
    from smart_water_management_spark.llmdata import text as t

    merges = [
        tuple(r["pair"].split(" ", 1))
        for r in t.x42_bpe_first_merges(spark, SF_DIR).orderBy("rn").collect()
    ]
    got = {
        r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.compression)
        for r in t.x55_bpe_apply(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    assert len(got) == len(docs)
    for d in docs:
        toks = d.text.lower().split(" ")
        enc = t.apply_merges(toks, merges)
        nb, na, comp = got[d.doc_id]
        assert (nb, na) == (len(toks), len(enc)), f"doc {d.doc_id}"
        assert comp == round(na / nb, 6)
    # the merge table must actually fire somewhere on the fixture corpus
    assert any(na < nb for nb, na, _ in got.values())


def test_bpe_apply_greedy_semantics():
    """Unit semantics of the shared reference function: priority order,
    left-to-right non-overlapping fusion, chained merges."""
    from smart_water_management_spark.llmdata.text import apply_merges

    # non-overlapping left-to-right: [a a a] with merge (a,a) -> [aa, a]
    assert apply_merges(["a", "a", "a"], [("a", "a")]) == ["a a", "a"]
    # priority: first rule wins the overlap
    assert apply_merges(["a", "b", "c"], [("a", "b"), ("b", "c")]) == ["a b", "c"]
    # chained: later rule sees earlier rule's fused tokens
    assert apply_merges(["a", "b", "c"], [("a", "b"), ("a b", "c")]) == ["a b c"]
    # no-op on empty/singleton
    assert apply_merges([], [("a", "b")]) == []
    assert apply_merges(["x"], [("a", "b")]) == ["x"]


def test_pagerank_mass_conserved_and_positive(spark):
    """x60: rank mass must stay exactly 1 (every node has out-degree k
    and stays in the vector, so no mass leaks), every rank >= (1-d)/N,
    and in-degree-0 nodes sit exactly at the teleport floor."""
    from smart_water_management_spark.llmdata import similarity as sim

    rows = sim.x60_knn_pagerank(spark, SF_DIR).collect()
    n = len(rows)
    floor = round((1 - sim.PR_DAMP) / n, 9)
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-6, total
    assert all(r.pagerank >= floor - 1e-12 for r in rows)
    assert any(r.pagerank > floor for r in rows)


def test_ffd_packing_matches_reference_and_bounds(spark, duck):
    """x61: the distributed grouped-map must equal the pure-Python FFD on
    every source, respect the ceil(total/context) lower bound, and stay
    within FFD's 11/9*OPT+1 guarantee (using the lower bound as OPT's
    floor)."""
    from smart_water_management_spark.llmdata import curation as c

    got = {r.source: r for r in c.x61_ffd_packing(spark, SF_DIR).collect()}
    rows = duck.execute(
        "SELECT source, len(string_split(lower(text), ' ')) FROM documents"
    ).fetchall()
    by_src: dict = {}
    for src, n in rows:
        by_src.setdefault(src, []).append(n)
    assert set(got) == set(by_src)
    for src, sizes in by_src.items():
        bins = c.ffd_pack(sizes, c.CONTEXT_LEN)
        r = got[src]
        assert r.bins_used == len(bins), src
        assert r.total_tokens == sum(sizes)
        import math

        lower = math.ceil(sum(sizes) / c.CONTEXT_LEN)
        assert r.lower_bound == lower
        assert lower <= r.bins_used <= math.ceil(11 / 9 * lower) + 1
        assert 0 < r.utilization <= 1.0


def test_ffd_pack_reference_semantics():
    """Unit semantics of the shared packing function."""
    from smart_water_management_spark.llmdata.curation import ffd_pack

    # decreasing first-fit: [5,4,3,2] into cap 7 -> [5+2, 4+3]
    assert sorted(ffd_pack([3, 5, 2, 4], 7)) == [7, 7]
    # oversized item chains full bins + remainder
    assert sorted(ffd_pack([16], 7)) == [2, 7, 7]
    # exact multiples leave no remainder bin
    assert ffd_pack([14], 7) == [7, 7]
    assert ffd_pack([], 7) == []


def test_ivfpq_recall_and_contract(spark):
    """x65: the composed IVF+PQ pipeline must keep at least IVF-level
    recall (cell routing is the binding constraint; the PQ shortlist +
    exact rerank recovers nearly everything within the probed cells) and
    honor the per-query top-k contract."""
    import numpy as np

    from smart_water_management_spark.llmdata import similarity as sim

    got = sim.x65_ivfpq_topk(spark, SF_DIR).collect()
    em = sorted(
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in em])
    mat = np.array([r.embedding for r in em], dtype=np.float64)
    hits = total = 0
    for q in range(sim.N_QUERIES):
        d = ((mat - mat[ids == q][0]) ** 2).sum(axis=1)
        d[ids == q] = np.inf
        exact = set(ids[np.argsort(d, kind="stable")[: sim.TOP_K]])
        hits += len(exact & {r.vec_id for r in got if r.qid == q})
        total += sim.TOP_K
    assert hits / total >= 0.5, f"IVFPQ recall@{sim.TOP_K}: {hits/total:.2f}"
    for q in range(sim.N_QUERIES):
        rows = sorted((r for r in got if r.qid == q), key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, sim.TOP_K + 1))
        dists = [r.l2_dist for r in rows]
        assert dists == sorted(dists)


def test_ann_mmr_matches_greedy_twin_on_its_candidates(spark):
    """x123 (ANN->MMR composition): the shared greedy must select, from
    the IVF+PQ candidate stream, EXACTLY what a sequential MMR greedy
    selects over the same candidates — picks and 6-dp scores
    bit-identical to a pure-Python twin that mirrors the fold's
    left-associated float adds. Additionally, any query whose candidate
    stream recalled the full brute-force top-M must agree byte-for-byte
    with x119 (same greedy, same candidates => same picks); at sf0.001
    the tiny corpus rarely reaches full recall, so that stronger check
    fires opportunistically (the sf0.01 replay exercises it for real)."""
    from smart_water_management_spark.llmdata import similarity as sim

    brute = sim.x119_mmr_diversity_rerank(spark, SF_DIR).collect()
    ann = sim.x123_ann_mmr_rerank(spark, SF_DIR).collect()
    short = sim.ivfpq_exact_shortlist(spark, SF_DIR).collect()
    cand_ids = {}
    for r in short:
        cand_ids.setdefault(r.qid, set()).add(r.vec_id)

    emb = {
        r.vec_id: [float(v) for v in r.embedding]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }

    def fold_cos(a, b):
        # left-associated adds, exactly like F.aggregate's fold
        num = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            num = num + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        import math

        return num / (math.sqrt(na) * math.sqrt(nb))

    lam = sim._X119_LAM
    full_recall = 0
    for q in range(sim.N_QUERIES):
        qe = emb[q]
        rel = {v: fold_cos(qe, emb[v]) for v in cand_ids[q]}
        top_m = sorted(rel, key=lambda v: (-rel[v], v))[: sim._X119_M]
        # sequential greedy twin over the ANN candidates
        picks_np = []
        chosen = []
        for _ in range(sim._X119_K):
            best_v, best_s = None, None
            for v in top_m:
                if v in chosen:
                    continue
                if chosen:
                    pen = max(fold_cos(emb[v], emb[c]) for c in chosen)
                    s = rel[v] - lam * pen
                else:
                    s = rel[v]
                if best_s is None or s > best_s or (s == best_s and v < best_v):
                    best_v, best_s = v, s
            chosen.append(best_v)
            picks_np.append((best_v, round(best_s, 6)))

        a = sorted((r for r in ann if r.qid == q), key=lambda r: r.pick)
        assert [r.pick for r in a] == [1, 2, 3], q
        assert [r.vec_id for r in a] == [v for v, _ in picks_np], (
            f"query {q}: spark {[(r.vec_id, r.mmr_score) for r in a]} "
            f"!= twin {picks_np}"
        )
        for r, (_, s) in zip(a, picks_np):
            # scores come from identical IEEE doubles; only the rounding
            # MODE could differ on an exact 6-dp midpoint (Spark HALF_UP
            # vs Python banker's), so allow that one-ulp-of-6dp slack
            assert abs(r.mmr_score - s) <= 1e-6, (q, r.mmr_score, s)

        # brute-force universe for the opportunistic full-recall check
        rel_all = {
            v: fold_cos(qe, e) for v, e in emb.items() if v != q
        }
        brute_top_m = set(
            sorted(rel_all, key=lambda v: (-rel_all[v], v))[: sim._X119_M]
        )
        if brute_top_m <= cand_ids[q]:
            full_recall += 1
            b = sorted((r for r in brute if r.qid == q), key=lambda r: r.pick)
            assert [(r.vec_id, r.mmr_score) for r in a] == [
                (r.vec_id, r.mmr_score) for r in b
            ], f"full-recall query {q} diverged from x119"


def test_quality_classifier_learns_weak_labels(spark):
    """x68: the LR must actually learn the rule-based signal it was
    trained on — training accuracy well above the majority-class rate,
    scores in [0,1], one row per doc."""
    from smart_water_management_spark.llmdata import curation as c

    rows = c.x68_quality_classifier(spark, SF_DIR).collect()
    n = len(rows)
    assert n == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert all(0.0 <= r.quality_prob <= 1.0 for r in rows)
    acc = sum(1 for r in rows if r.predicted == r.weak_label) / n
    majority = max(
        sum(1 for r in rows if r.weak_label == 1),
        sum(1 for r in rows if r.weak_label == 0),
    ) / n
    assert acc >= majority, (acc, majority)
    # scores must separate the classes on average (AUC proxy)
    pos = [r.quality_prob for r in rows if r.weak_label == 1]
    neg = [r.quality_prob for r in rows if r.weak_label == 0]
    if pos and neg:
        assert sum(pos) / len(pos) > sum(neg) / len(neg)


def test_x132_no_near_dup_pair_straddles_split(spark):
    """x132's whole point: no verified near-dup pair may have one side
    in train and the other in test. Also pin the component-atomic
    property (every member of a component shares its split) and that
    both splits are nonempty at the test SF."""
    from smart_water_management_spark.llmdata import dedup as dd
    from smart_water_management_spark.llmdata.components import (
        x132_leakage_free_split,
    )
    from smart_water_management_spark.sources.catalog import load_table

    split = {
        r.doc_id: (r.component, r.split)
        for r in x132_leakage_free_split(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents")
    sigs = dd.pinned_corpus_signatures(spark, SF_DIR)
    pairs = dd.verify_jaccard(
        docs, dd.lsh_candidate_pairs(sigs), 0.5
    ).collect()
    assert pairs, "no verified pairs at test SF; straddle check vacuous"
    for p in pairs:
        assert split[p.doc_a][1] == split[p.doc_b][1], (p.doc_a, p.doc_b)
        assert split[p.doc_a][0] == split[p.doc_b][0], (p.doc_a, p.doc_b)
    kinds = {s for _, s in split.values()}
    assert kinds == {"train", "test"}, kinds


def test_x126_truncation_planted_exactly_on_corrupt_mod(spark):
    """x126's planted corruption: every doc_id % 13 == 0 doc must fail
    the pixel-sum check (truncation removes ascii>=32 bytes, whose sum
    cannot be zero) and every other doc must be fully consistent."""
    from smart_water_management_spark.llmdata.multimodal import (
        _X126_CORRUPT_MOD,
        x126_caption_image_consistency,
    )

    rows = x126_caption_image_consistency(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        if r.doc_id % _X126_CORRUPT_MOD == 0:
            assert not r.sum_match and not r.pair_consistent, r.doc_id
        else:
            assert r.h_match and r.sum_match and r.pair_consistent, r.doc_id


def test_x125_duplicate_texts_share_wav_fingerprint(spark):
    """Duplicate audio must dedup: a synthesized corpus with planted
    EXACT duplicate texts (the sf0.001 corpus has only near-dups) gives
    byte-identical WAVs, hence equal fingerprints; the canonical member
    is the min doc_id of its group, and group sizes are reported."""
    import collections
    import os
    import tempfile

    from smart_water_management_spark.llmdata.multimodal import (
        x125_wav_fingerprint_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join window exact duplicate payload", "en", "a", 49),
            (2, "spark shuffle join window exact duplicate payload", "en", "a", 49),
            (3, "a totally different audio track with other words here", "en", "b", 53),
            (4, "spark shuffle join window exact duplicate payload", "en", "b", 49),
            (5, "yet another unrelated piece of synthetic audio text", "en", "a", 51),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        sf_dir = os.path.join(d, "sf")
        os.makedirs(sf_dir)
        docs.write.parquet(os.path.join(sf_dir, "documents.parquet"))
        rows = x125_wav_fingerprint_dedup(spark, sf_dir).collect()
    fp = {r.doc_id: r for r in rows}
    assert fp[1].wav_fp == fp[2].wav_fp == fp[4].wav_fp
    assert fp[3].wav_fp != fp[1].wav_fp
    by_fp = collections.defaultdict(list)
    for r in rows:
        by_fp[r.wav_fp].append(r)
    for g in by_fp.values():
        lo = min(r.doc_id for r in g)
        for r in g:
            assert r.is_canonical == (r.doc_id == lo), r
            assert r.n_same_fp == len(g), r


def test_x133_budget_prefix_semantics(spark):
    """Included slots are exactly the maximal rank prefix whose
    cumulative tokens fit the budget; cum_tokens is the running sum of
    tok_cost in rank order."""
    import collections

    from smart_water_management_spark.llmdata.similarity import (
        _X133_BUDGET,
        x133_rag_context_pack,
    )

    rows = x133_rag_context_pack(spark, SF_DIR).collect()
    byq = collections.defaultdict(list)
    for r in rows:
        byq[r.qid].append(r)
    for q, g in byq.items():
        g.sort(key=lambda r: r.rank)
        cum = 0
        stopped = False
        for r in g:
            cum += r.tok_cost
            assert r.cum_tokens == cum, (q, r.rank)
            assert r.included == (cum <= _X133_BUDGET), (q, r.rank)
            if not r.included:
                stopped = True
            elif stopped:
                raise AssertionError(f"non-prefix inclusion at {q}")
