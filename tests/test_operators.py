"""Operator-level unit tests: properties the oracle can't express —
LSH recall vs the exact baseline, hash determinism, edge-case inputs."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from data_warehouse_product_mix_clustering_spark.operators.dedup import simhash64
from data_warehouse_product_mix_clustering_spark.operators.similarity import brute_force_topk, lsh_topk
from data_warehouse_product_mix_clustering_spark.functions.text import tokens, word_ngrams

from conftest import SF_SMOKE


def money_snap(x, out=2, snap=4):
    """The engine's money rounding (functions/numeric.py::money_round
    discipline) recomputed with stdlib Decimal for third-path tests:
    HALF_UP at `snap` decimals, then HALF_UP at `out`."""
    from decimal import ROUND_HALF_UP, Decimal

    d = Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-snap), ROUND_HALF_UP)
    return float(d.quantize(Decimal(1).scaleb(-out), ROUND_HALF_UP))


def test_lsh_recall_vs_brute_force(spark):
    """LSH top-k must find ≥80% of the true top-5 neighbors on the fixture."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8"


def test_ann_lsh_recall_at_10(spark):
    """Pin ann_lsh_topk's approximation quality, not just its row count:
    recall@10 vs the exact plan over 50 queries (deterministic — seeded
    hyperplanes, fixed corpus; measured 0.904 on this near-uniform fixture,
    the hardest regime for hyperplane LSH)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 50)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in lsh_topk(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall@10 {recall:.3f} < 0.9"


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=4/16 must recover most true top-10 neighbors, and
    probing ALL cells must make it exact (recall 1)."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    # Near-uniform corpus = worst case for IVF (neighbors scatter across
    # cells). Pin the measured deterministic curve: 0.585 → 0.79 → 1.0.
    recalls = {}
    for nprobe in (4, 8, 16):
        approx = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, queries, k=10, nlist=16, nprobe=nprobe).collect()
        }
        recalls[nprobe] = len(exact & approx) / len(exact)
        if nprobe == 16:
            assert approx == exact, "nprobe == nlist must be exhaustive (= exact)"
    assert recalls[4] >= 0.5, f"recall curve collapsed: {recalls}"
    assert recalls[4] < recalls[8] < recalls[16] == 1.0, (
        f"recall must rise with nprobe: {recalls}"
    )


def test_block_cosine_pairs_matches_exact(spark):
    """Blocked-matmul cosine join must equal the naive crossJoin exactly,
    for any block count (1 = single matmul, 3 = uneven blocks, 8 = default)."""
    from data_warehouse_product_mix_clustering_spark.functions.numeric import ratio_round
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        as_double,
        block_cosine_pairs,
        cosine,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("vec_a"), as_double("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), as_double("embedding").alias("eb"))
    exact = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", ratio_round(cosine(F.col("ea"), F.col("eb"))).alias("cosine")
        )
        .filter(F.col("cosine") >= 0.42)
        .collect()
    }
    for n_blocks in (1, 3, 8):
        got = {
            (r.vec_a, r.vec_b, r.cosine)
            for r in block_cosine_pairs(
                emb, threshold=0.42, n_blocks=n_blocks
            ).collect()
        }
        assert got == exact, f"n_blocks={n_blocks}: {len(got)} vs {len(exact)} pairs"


def test_lsh_cosine_pairs_planted_duplicates(spark):
    """On a corpus with SEPARATED near-dups (the real dedup regime, cos≥0.95
    planted vs ≤0.6 background), LSH candidates must reach recall 1, and
    must generate far fewer candidates than all-pairs."""
    import random

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        block_cosine_pairs,
        lsh_cosine_pairs,
    )

    rng = random.Random(7)
    dim, n_base, n_dups = 32, 120, 30
    rows = []
    for i in range(n_base):
        rows.append((i, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
    for j in range(n_dups):  # perturbed copy of base j -> cosine ~0.99
        base = rows[j][1]
        rows.append(
            (n_base + j, [x + rng.gauss(0.0, 0.05) for x in base])
        )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.vec_a, r.vec_b)
        for r in block_cosine_pairs(df, threshold=0.9, n_blocks=4).collect()
    }
    # 8 bands × 8 bits: random-pair collision ≈5%, recall at cos≈0.999 ≈ 1.
    # (the 16×4 default trades pruning for recall at looser thresholds)
    approx = {
        (r.vec_a, r.vec_b)
        for r in lsh_cosine_pairs(df, threshold=0.9, dim=dim, bands=8).collect()
    }
    assert len(exact) >= n_dups  # every planted pair is above 0.9
    assert approx == exact, f"recall {len(approx & exact)}/{len(exact)}"
    # pruning: candidate pairs (pre-verify) must be far fewer than all-pairs
    n = n_base + n_dups
    cand = lsh_cosine_pairs(df, threshold=-1.0, dim=dim, bands=8).count()
    assert cand < 0.2 * n * (n - 1) / 2, f"LSH pruned nothing: {cand} candidates"


def test_simhash_deterministic(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    a = {(r.doc_id, r.simhash) for r in simhash64(docs, "doc_id", "text").collect()}
    b = {(r.doc_id, r.simhash) for r in simhash64(docs, "doc_id", "text").collect()}
    assert a == b and len(a) == 50


def test_word_ngrams_short_docs(spark):
    """Docs shorter than n must yield an empty shingle array, not garbage."""
    df = spark.createDataFrame(
        [("one",), ("one two",), ("one two three",), ("  ",)], ["text"]
    ).select(tokens(F.col("text")).alias("t"))
    got = df.select(word_ngrams("t", 2).alias("g")).collect()
    assert [r.g for r in got] == [[], ["one two"], ["one two", "two three"], []]


def test_media_frame_features_deterministic(spark):
    """The fake decoder must be pure: same payload -> same frames/features."""
    from data_warehouse_product_mix_clustering_spark.operators.media import frame_features

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(40)
    a = frame_features(docs, "doc_id", "text").collect()
    b = frame_features(docs, "doc_id", "text").collect()
    key = lambda r: (r.doc_id, r.frame_index)
    assert sorted(map(repr, a)) == sorted(map(repr, b))
    pngs = [r for r in a if r.media_format == "png"]
    assert pngs and all(r.frame_index == 0 for r in pngs)  # png = single frame
    assert all(len(r.features) == 8 for r in a)


def test_approx_stats_error_bounds(spark):
    """HLL++/percentile_approx must land within tight bounds of exact."""
    from data_warehouse_product_mix_clustering_spark.plans.events import events_approx_stats
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    ev = table(spark, "events", SF_SMOKE)
    exact = {
        r.event_type: (r.users, r.med)
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.median("value").alias("med"),
        )
        .collect()
    }
    approx = {
        r.event_type: (r.approx_users, r.approx_median_value)
        for r in events_approx_stats(spark, SF_SMOKE).collect()
    }
    for et, (users, med) in exact.items():
        au, amed = approx[et]
        assert abs(au - users) / users < 0.05, f"{et}: HLL err {au} vs {users}"
        assert abs(amed - med) / max(abs(med), 1) < 0.05, f"{et}: median err"


def test_media_resize_and_frame_sampling(spark):
    """Resize: every payload lands at exactly the target byte size,
    deterministically. Sampling: every-2nd-frame output is exactly the
    even-index subset of the full decode."""
    from data_warehouse_product_mix_clustering_spark.operators.media import frame_features, resize_media

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(40)
    r1 = resize_media(docs, "doc_id", "text", width=16, height=8).collect()
    r2 = resize_media(docs, "doc_id", "text", width=16, height=8).collect()
    assert len(r1) == 40
    assert all(r.n_bytes == 16 * 8 and len(r.payload) == 16 * 8 for r in r1)
    assert sorted(map(repr, r1)) == sorted(map(repr, r2))

    full = {(r.doc_id, r.frame_index) for r in frame_features(docs, "doc_id", "text").collect()}
    sampled = {
        (r.doc_id, r.frame_index)
        for r in frame_features(docs, "doc_id", "text", sample_every=2).collect()
    }
    assert sampled == {(d, fi) for d, fi in full if fi % 2 == 0}
    assert len(sampled) < len(full)  # some multi-frame media exists


def test_builtin_minhashlsh_agrees_with_custom(spark):
    """Cross-validate the custom MinHash-LSH path against MLlib's built-in
    MinHashLSH: both, after exact-Jaccard verification at 0.8, must produce
    the same pair set as the exact relational formulation."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from data_warehouse_product_mix_clustering_spark.operators.dedup import jaccard_pairs, shingle_sets

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.8).collect()
    }

    sh = shingle_sets(docs, "doc_id", "text", n=2)
    grouped = (
        sh.groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("sh"))
        .filter(F.size("sh") > 0)  # MinHashLSH requires ≥ 1 nonzero element
    )
    cv = CountVectorizer(inputCol="sh", outputCol="__v", binary=True).fit(grouped)
    vec = cv.transform(grouped)
    lsh = MinHashLSH(inputCol="__v", outputCol="__h", numHashTables=16, seed=42).fit(vec)
    # distance threshold 0.2 == Jaccard 0.8; verify candidates exactly like
    # the custom operator does (approxSimilarityJoin distance is exact
    # Jaccard distance, so thresholding it IS the verification step)
    joined = lsh.approxSimilarityJoin(vec, vec, 0.2, distCol="__d")
    builtin = {
        (min(r.datasetA.doc_id, r.datasetB.doc_id), max(r.datasetA.doc_id, r.datasetB.doc_id))
        for r in joined.filter("datasetA.doc_id < datasetB.doc_id").collect()
    }
    assert builtin == exact, (
        f"builtin {len(builtin)} vs exact {len(exact)} pairs"
    )


def test_incremental_dedup(spark):
    """New-batch dedup against an existing corpus: in-batch dups collapse
    to the lowest id, already-ingested content is dropped entirely."""
    from data_warehouse_product_mix_clustering_spark.operators.dedup import exact_duplicates, incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], ["doc_id", "text"]
    )
    store = exact_duplicates(corpus, "doc_id", "text").select("fingerprint")
    batch = spark.createDataFrame(
        [
            (10, "alpha beta"),    # duplicate of ingested doc 1 -> dropped
            (11, "epsilon zeta"),  # new -> kept
            (12, "epsilon zeta"),  # in-batch dup of 11 -> dropped
            (13, "eta theta"),     # new -> kept
        ],
        ["doc_id", "text"],
    )
    got = incremental_dedup(batch, store, "doc_id", "text")
    assert {r.doc_id for r in got.collect()} == {11, 13}
    # idempotence: appending survivors to the store, the same batch now
    # contributes nothing
    new_store = store.unionByName(got.select("fingerprint"))
    again = incremental_dedup(batch, new_store, "doc_id", "text")
    assert again.count() == 0


def test_operator_api_contracts(spark):
    """Invalid-parameter paths must fail fast with clear errors."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.asof_join import asof_join
    from data_warehouse_product_mix_clustering_spark.operators.split import split_boundaries

    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(ValueError, match="unknown asof strategy"):
        asof_join(df, df, "a", "b", strategy="nope")
    with pytest.raises(ValueError, match="bucket= requires end_col"):
        asof_join(df, df, "a", "b", bucket="day")
    with pytest.raises(ValueError, match="strategy='broadcast' requires bucket="):
        asof_join(df, df, "a", "b", direction="nearest")
    with pytest.raises(ValueError, match="bucket must be one of"):
        asof_join(df, df, "a", "b", end_col="b", bucket="fortnight")
    # Backward direction: bucket=/horizon= only shape the bucketed
    # broadcast strategy, so any other strategy refuses them.
    ev = spark.createDataFrame([(1, dt.date(2024, 1, 5))], "id int, t date")
    iv = spark.createDataFrame(
        [(dt.date(2024, 1, 1), dt.date(2024, 1, 31), 1.0)], "s date, e date, v double"
    )
    hi = ev.select(F.max("t"))
    with pytest.raises(ValueError, match="applies to the broadcast strategy only"):
        asof_join(ev, iv, "t", "s", end_col="e", strategy="union", bucket="month")
    with pytest.raises(ValueError, match="horizon= applies to the bucketed strategy"):
        asof_join(ev, iv, "t", "s", end_col="e", strategy="union", horizon=hi)
    with pytest.raises(ValueError, match="horizon= applies to the bucketed strategy"):
        asof_join(ev, iv, "t", "s", end_col="e", horizon=hi)
    with pytest.raises(ValueError, match="sum to 1"):
        split_boundaries({"train": 0.5, "test": 0.1})


def test_ivf_recall_on_separated_clusters(spark):
    """On a CLUSTERED corpus (the regime IVF is built for — distinct
    centroids, tight spread), nprobe=4/16 must reach recall@10 ≥ 0.9.
    Complements test_ivf_recall_vs_brute_force, which pins the honest-but-
    low curve on the near-uniform fixture (IVF's worst case)."""
    import random

    from data_warehouse_product_mix_clustering_spark.operators.similarity import ivf_topk

    rng = random.Random(11)
    dim, n_clusters, per_cluster = 32, 10, 60
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for i in range(n_clusters * per_cluster):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0.0, 0.15) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 30)  # 3 queries per cluster
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10, vec_col="embedding").collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, queries, k=10, nlist=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@10 {recall:.3f} < 0.9 on separated clusters"


def _encode_png(width, height, pixel_fn, color_type=2, filters=None):
    """Minimal stdlib PNG writer for the decoder tests. ``pixel_fn(x, y)``
    returns a tuple of samples; ``filters`` assigns a filter type per row
    (default cycles 0/1/2/4 to exercise every unfilter branch)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    filters = filters or [(0, 1, 2, 4)[y % 4] for y in range(height)]

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rows = [
        bytearray(
            s for x in range(width) for s in pixel_fn(x, y)
        )
        for y in range(height)
    ]
    stride = width * channels
    raw = bytearray()
    prev = bytearray(stride)
    for y, line in enumerate(rows):
        ft = filters[y]
        enc = bytearray(line)
        if ft == 1:
            for x in range(stride - 1, channels - 1, -1):
                enc[x] = (line[x] - line[x - channels]) & 0xFF
        elif ft == 2:
            for x in range(stride):
                enc[x] = (line[x] - prev[x]) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (line[x] - pr) & 0xFF
        raw += bytes([ft]) + enc
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decoder_roundtrip():
    """The stdlib PNG decoder must invert the encoder exactly — true
    dimensions and pixel bytes across all four filter types, RGB + gray."""
    from data_warehouse_product_mix_clustering_spark.operators.media import real_decode

    px = lambda x, y: ((x * 7 + y * 13) % 256, (x * 3) % 256, (y * 5) % 256)
    png = _encode_png(17, 9, px, color_type=2)
    d = real_decode(png, "png")
    assert (d["width"], d["height"], d["channels"]) == (17, 9, 3)
    expect = bytes(s for y in range(9) for x in range(17) for s in px(x, y))
    assert d["pixels"] == expect

    gray = _encode_png(5, 4, lambda x, y: ((x * y * 31) % 256,), color_type=0)
    g = real_decode(gray, "png")
    assert (g["width"], g["height"], g["channels"]) == (5, 4, 1)
    assert g["pixels"] == bytes((x * y * 31) % 256 for y in range(4) for x in range(5))


def test_wav_decoder_roundtrip():
    """The RIFF parser must recover the exact header fields the stdlib
    ``wave`` writer encoded — rates, channels, widths, sample counts —
    and the raw PCM data bytes."""
    from data_warehouse_product_mix_clustering_spark.operators.media import _decode_wav, make_wav, real_decode

    pcm = bytes((i * 37) % 256 for i in range(1003))
    for rate, channels, sampwidth in [(8000, 1, 1), (16000, 2, 1), (44100, 2, 2)]:
        wav = make_wav(pcm, rate, channels, sampwidth)
        d = real_decode(wav, "wav")
        frame = channels * sampwidth
        kept = len(pcm) - len(pcm) % frame
        assert d["sample_rate"] == rate
        assert d["channels"] == channels
        assert d["bits_per_sample"] == sampwidth * 8
        assert d["n_samples"] == kept // frame
        assert d["pixels"] == pcm[:kept]
        # image-vocabulary mapping for the frame kernel: 1-second frames
        assert d["height"] == 1 and d["width"] == rate
        import math

        assert d["n_frames"] == max(1, math.ceil(d["n_samples"] / rate))

    # non-PCM audio_format must refuse (fake-decoder fallback), not lie
    import struct

    compressed = bytearray(make_wav(pcm, 8000, 1, 1))
    fmt_at = bytes(compressed).find(b"fmt ")
    struct.pack_into("<H", compressed, fmt_at + 8, 6)  # 6 = A-law
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        _decode_wav(bytes(compressed))


def test_real_wav_through_spark_kernel(spark):
    """Genuine WAV payloads through the mapInPandas frame kernel: real
    sample-rate-derived dimensions, 1-second frame sampling."""
    from data_warehouse_product_mix_clustering_spark.operators.media import (
        FRAME_FEATURES_SCHEMA,
        make_decode_kernel,
        make_wav,
    )

    rate = 1000
    pcm = bytes((i * 11) % 256 for i in range(2500))  # 2.5 s at 1 kHz mono
    media = spark.createDataFrame(
        [(1, "wav", bytearray(make_wav(pcm, rate, 1, 1)))],
        "doc_id long, media_format string, payload binary",
    )
    rows = media.mapInPandas(make_decode_kernel(1), FRAME_FEATURES_SCHEMA).collect()
    assert len(rows) == 3  # ceil(2.5) one-second frames
    assert all(r.width == rate and r.height == 1 for r in rows)


def test_real_png_through_spark_kernels(spark):
    """A genuine PNG payload through the SAME mapInPandas kernels the
    synthetic corpus uses: frame features carry the real dimensions, and
    resize produces a true 2-D nearest-neighbor downsample of the pixels."""
    from data_warehouse_product_mix_clustering_spark.operators.media import (
        FRAME_FEATURES_SCHEMA,
        RESIZED_SCHEMA,
        make_decode_kernel,
    )

    png = _encode_png(40, 24, lambda x, y: ((x * 6) % 256, y % 256, 128))
    media = spark.createDataFrame(
        [(1, "png", bytearray(png)), (2, "png", bytearray(b"not a real png"))],
        "doc_id long, media_format string, payload binary",
    )
    rows = {
        r.doc_id: r
        for r in media.mapInPandas(make_decode_kernel(1), FRAME_FEATURES_SCHEMA).collect()
    }
    assert (rows[1].width, rows[1].height) == (40, 24)  # REAL dimensions
    assert rows[2].width != 40 or rows[2].height != 24  # fake path still runs
    assert all(0.0 <= f <= 1.0 for f in rows[1].features)

    import pandas as pd
    from data_warehouse_product_mix_clustering_spark.operators.media import _maybe_real_decode, _real_resize

    decoded = _maybe_real_decode(png, "png")
    assert decoded is not None
    small = _real_resize(decoded, 8, 6)
    assert len(small) == 48
    # spot-check nearest-neighbor: out(0,0) is the R sample of src(0,0)
    assert small[0] == decoded["pixels"][0]


def test_connected_components_raises_when_cap_hit(spark):
    """Truncated label propagation must fail loudly, never return partial
    (wrong) group labels: a 10-node chain has diameter 9, so cap=2 cannot
    converge; an adequate cap labels the whole chain as one group."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2)
    groups = {r.group_id for r in connected_components(chain, max_iterations=20).collect()}
    assert groups == {0}


def test_check_constraints_rejects_empty_spec(spark):
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.quality import check_constraints

    df = spark.range(3)
    with pytest.raises(ValueError, match="no constraints"):
        check_constraints(df)


def test_pack_shards_matches_sequential(spark):
    """Distributed prefix-sum packing == the sequential greedy definition:
    running total before each row, integer-divided by the budget. Includes
    an oversized row (> budget) which must land in exactly one shard."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.packing import pack_shards

    weights = [10, 25, 7, 100, 3, 40, 1, 1, 60, 12]  # one row > budget=50
    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = {
        r.id: r.shard_id
        for r in pack_shards(df, "id", "w", budget=50).collect()
    }
    cum = 0
    for i, w in enumerate(weights):
        assert out[i] == cum // 50, f"row {i}: {out[i]} != {cum // 50}"
        cum += w

    with pytest.raises(ValueError):
        pack_shards(df, "id", "w", budget=0)


def test_pack_shards_empty_and_single(spark):
    from data_warehouse_product_mix_clustering_spark.operators.packing import pack_shards

    empty = spark.createDataFrame([], "id long, w long")
    assert pack_shards(empty, "id", "w", budget=10).count() == 0
    one = spark.createDataFrame([(5, 3)], "id long, w long")
    row = pack_shards(one, "id", "w", budget=10).collect()[0]
    assert row.shard_id == 0


def test_context_windows_matches_sequential(spark):
    """operators/packing.py::context_windows == the sequential
    concat-and-chunk definition: lay the weights out as one stream, cut
    every L tokens, record each doc's slice per window. Covers a doc
    spanning multiple windows (w > L), exact-boundary docs, zero-weight
    docs (absent), and the ragged last window; reassembling slices must
    reconstruct each doc exactly once with full coverage."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.packing import context_windows

    L = 16
    weights = [10, 25, 16, 3, 0, 40, 1, 6, 2]  # 0-weight doc 4; doc 5 > 2L
    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = sorted(
        (r.seq_id, r.id, r.slice_start, r.slice_len, r.seq_offset)
        for r in context_windows(df, "id", "w", context_len=L).collect()
    )
    want = []
    start = 0
    for i, w in enumerate(weights):
        if w == 0:
            continue
        for seq in range(start // L, (start + w - 1) // L + 1):
            a = max(start, seq * L)
            b = min(start + w, (seq + 1) * L)
            want.append((seq, i, a - start, b - a, a - seq * L))
        start += w
    assert got == sorted(want)
    # per-doc slices reconstruct the doc: contiguous from 0, total == w
    per_doc: dict = {}
    for seq, i, ss, sl, _ in got:
        per_doc.setdefault(i, []).append((ss, sl))
    for i, slices in per_doc.items():
        slices.sort()
        pos = 0
        for ss, sl in slices:
            assert ss == pos and sl > 0
            pos += sl
        assert pos == weights[i]
    assert 4 not in per_doc  # zero-weight doc emits nothing

    with pytest.raises(ValueError):
        context_windows(df, "id", "w", context_len=0)


def test_doc_context_windows_matches_duckdb_twin(spark):
    """plans/pipeline/packing.py::doc_context_windows (pre-staged r13) ≡ its
    adjacent DuckDB oracle at sf0.001 — the r13 registration pastes
    exactly these two sides, so this test IS the registration's dry
    run. Also pins the tiling contract: every window except the ragged
    last sums to exactly CONTEXT_LEN."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _CONTEXT_WINDOWS_ORACLE,
        CONTEXT_LEN,
        doc_context_windows,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = doc_context_windows(spark, SF_SMOKE).toPandas()
    want = con.sql(_CONTEXT_WINDOWS_ORACLE).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    per = got.groupby("seq_id")["slice_len"].sum()
    assert (per[per.index < per.index.max()] == CONTEXT_LEN).all()


def test_pq_recall_vs_brute_force(spark):
    """PQ-ADC with exact re-rank must recover ≥0.9 of true top-10 on the
    near-uniform fixture (hardest regime for quantization: neighbors are
    barely separated, so code collisions matter most). Determinism: seeded
    codebooks + fixed corpus ⇒ identical output across runs."""
    from data_warehouse_product_mix_clustering_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    out1 = pq_topk(emb, queries, k=10).collect()
    approx = {(r.query_id, r.vec_id) for r in out1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ recall@10 {recall:.3f} < 0.9"

    out2 = pq_topk(emb, queries, k=10).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))


def test_fan_out_conditional(spark):
    """fan_out repartitions a single-partition input up to cluster
    parallelism and leaves an already-well-split plan untouched."""
    from data_warehouse_product_mix_clustering_spark.operators.skew import fan_out

    one = spark.range(1000).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    assert fan_out(one).rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target * 2)
    assert fan_out(wide) is wide  # no-op: same plan object, no new Exchange


def test_quantile_segment_exact_vs_approx(spark):
    """The segmentation operator's two paths agree: exact ntile yields
    equal tiles; the approx (scale) path buckets nearly identically and
    is strictly value-ordered across segments."""
    from data_warehouse_product_mix_clustering_spark.operators.segmentation import quantile_segment

    df = spark.range(1000).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 1000).cast("double").alias("v")
    )
    exact = quantile_segment(df, "v", 4, tiebreak=["k"])
    sizes = {r.segment: r.n for r in
             exact.groupBy("segment").agg(F.count("*").alias("n")).collect()}
    assert sizes == {1: 250, 2: 250, 3: 250, 4: 250}
    # descending convention: the largest value sits in segment 1
    top = exact.orderBy(F.col("v").desc()).first()
    assert top.segment == 1

    approx = quantile_segment(df, "v", 4, exact=False)
    both = (
        exact.select("k", F.col("segment").alias("e"))
        .join(approx.select("k", F.col("segment").alias("a")), "k")
    )
    agree = both.filter(F.col("e") == F.col("a")).count() / 1000
    assert agree >= 0.99, f"exact/approx agreement {agree:.3f}"
    # strict value ordering across approx segments (ties never split)
    seg_bounds = approx.groupBy("segment").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()
    for s in seg_bounds:
        for t in seg_bounds:
            if s.segment < t.segment:
                assert s.lo > t.hi

    import pytest as _pytest

    with _pytest.raises(ValueError):
        quantile_segment(df, "v", 1)


def test_wav_decoder_list_chunk_before_data():
    """A LIST/INFO chunk preceding the data chunk — whose body contains the
    literal bytes b"data" — must not fool the PCM slicer (ADVICE r5 low:
    the offset comes from the chunk walk, not raw.find)."""
    import struct

    from data_warehouse_product_mix_clustering_spark.operators.media import _decode_wav, make_wav

    pcm = bytes((i * 7) % 256 for i in range(256))
    wav = make_wav(pcm, 8000, 1, 1)
    # splice a LIST chunk carrying b"data" decoys between fmt and data
    data_at = wav.find(b"data")
    info = b"INFOdataXXdataYY"
    lst = b"LIST" + struct.pack("<I", len(info)) + info
    patched = bytearray(wav[:data_at] + lst + wav[data_at:])
    # RIFF size field covers everything after the first 8 bytes
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    d = _decode_wav(bytes(patched))
    assert d["pixels"] == pcm, "PCM sliced from the wrong offset"
    assert d["n_samples"] == len(pcm)


def test_maybe_real_decode_corrupt_magic_falls_back():
    """Payloads with genuine RIFF/WAVE (or PNG) magic but corrupt bodies
    must degrade to the fake decoder (return None), not crash the task
    (ADVICE r5 low: ValueError/struct.error now caught)."""
    from data_warehouse_product_mix_clustering_spark.operators.media import _maybe_real_decode, make_wav

    # chunkless body: magic only
    assert _maybe_real_decode(b"RIFF\x00\x00\x00\x00WAVE", "wav") is None
    # truncated fmt chunk: struct.error / ValueError territory
    wav = make_wav(b"\x01\x02\x03\x04", 8000, 1, 1)
    truncated = wav[: wav.find(b"fmt ") + 10]
    assert _maybe_real_decode(truncated, "wav") is None
    # PNG magic with garbage body
    png_magic = b"\x89PNG\r\n\x1a\n"
    assert _maybe_real_decode(png_magic + b"\x00\x01\x02", "png") is None


def test_maybe_real_decode_fallback_is_observable(monkeypatch):
    """The safety fallback must not hide real-decoder regressions on valid
    payloads (ADVICE r6 low): every degrade is counted, and strict mode
    (SPARK_GRAFT_STRICT_DECODE=1, for tests) re-raises instead."""
    from data_warehouse_product_mix_clustering_spark.operators import media
    from data_warehouse_product_mix_clustering_spark.operators.media import (
        _REAL_DECODE_FALLBACKS,
        _maybe_real_decode,
        make_wav,
    )

    wav = make_wav(b"\x01\x02\x03\x04", 8000, 1, 1)
    truncated = wav[: wav.find(b"fmt ") + 10]

    # Normal mode: degrade, but count it.
    monkeypatch.delenv("SPARK_GRAFT_STRICT_DECODE", raising=False)
    before = _REAL_DECODE_FALLBACKS.get("wav", 0)
    assert _maybe_real_decode(truncated, "wav") is None
    assert _REAL_DECODE_FALLBACKS.get("wav", 0) == before + 1

    # Strict mode: the decoder failure surfaces instead of degrading.
    monkeypatch.setenv("SPARK_GRAFT_STRICT_DECODE", "1")
    with pytest.raises(Exception):  # ValueError or struct.error
        _maybe_real_decode(truncated, "wav")

    # Strict mode does not reject payloads that decode fine.
    good = _maybe_real_decode(wav, "wav")
    assert good is not None and good["n_samples"] == 4

    # A regression injected into the real decoder is loud in strict mode.
    def boom(raw):
        raise ValueError("injected decoder regression")

    monkeypatch.setattr(media, "_decode_wav", boom)
    with pytest.raises(ValueError, match="injected"):
        _maybe_real_decode(wav, "wav")


def test_minhash_verify_scopes_agree(spark):
    """The candidate-restricted verify (the 100 TB path) must return the
    IDENTICAL verified pair set as the corpus-scope default — the scope
    knob trades jobs for data passes, never results."""
    from data_warehouse_product_mix_clustering_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(
        minhash_lsh_pairs(docs, "doc_id", "text", verify_scope="corpus").collect()
    )
    b = sorted(
        minhash_lsh_pairs(docs, "doc_id", "text", verify_scope="candidates").collect()
    )
    assert a == b and len(a) > 0


def test_incremental_jaccard_is_cross_split_slice_of_symmetric(spark):
    """One-sided batch-vs-corpus Jaccard must equal exactly the cross-split
    subset of the symmetric all-pairs result — same pairs, same values —
    and the broadcast-prune knob must not change the answer."""
    from data_warehouse_product_mix_clustering_spark.operators.dedup import (
        incremental_jaccard_pairs,
        jaccard_pairs,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    from conftest import SF_SMOKE

    docs = table(spark, "documents", SF_SMOKE)
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)

    sym = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.8).collect()
    }
    cross = {
        k: v for k, v in sym.items() if (k[0] % 7 == 3) != (k[1] % 7 == 3)
    }
    want = {(min(a, b), max(a, b)): v for (a, b), v in cross.items()}

    for bcast in (True, False):
        got = {
            (min(r.doc_new, r.doc_corpus), max(r.doc_new, r.doc_corpus)): r.jaccard
            for r in incremental_jaccard_pairs(
                batch, corpus, "doc_id", "text", n=2, threshold=0.8,
                broadcast_new_shingles=bcast,
            ).collect()
        }
        assert got == want, f"broadcast={bcast}: {len(got)} vs {len(want)} pairs"
    assert want, "cross-split slice is empty — test data no longer exercises this"


def test_morton_interleave_matches_python_oracle(spark):
    """The Catalyst bit-interleave must equal the pure-python Morton code
    for every grid coordinate pair in a small exhaustive sweep."""
    from data_warehouse_product_mix_clustering_spark.operators.layout import (
        _interleave_bits,
        morton_interleave_py,
    )

    rows = [(a, b) for a in range(16) for b in range(16)]
    df = spark.createDataFrame(rows, ["ga", "gb"])
    got = df.select(
        "ga", "gb", _interleave_bits([F.col("ga"), F.col("gb")], 4).alias("z")
    ).collect()
    for r in got:
        assert r.z == morton_interleave_py([r.ga, r.gb], 4), (r.ga, r.gb, r.z)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """What z-order promises — and the honest tradeoff. A 1-D sorted
    layout prunes its sort column perfectly and the other column not at
    all; the z-curve layout must prune on BOTH dimensions (the second of
    which linear cannot touch), at the documented cost of weaker pruning
    than a dedicated sort on its own column. Measured via parquet footer
    min/max stats — exactly what a stats-trusting reader skips on. Also
    pins row conservation under re-layout."""
    from data_warehouse_product_mix_clustering_spark.operators.layout import (
        files_overlapping_box,
        write_zordered,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    from conftest import SF_SMOKE

    li = table(spark, "lineitem", SF_SMOKE).select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    n_files = 16
    lin_path = str(tmp_path / "linear")
    z_path = str(tmp_path / "zorder")
    (
        li.repartitionByRange(n_files, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite")
        .parquet(lin_path)
    )
    write_zordered(li, z_path, ["l_partkey", "l_suppkey"], n_files, bits=8)

    # row conservation under re-layout
    assert spark.read.parquet(z_path).count() == li.count()

    pk_lo, pk_hi = li.approxQuantile("l_partkey", [0.45, 0.55], 0.001)
    sk_lo, sk_hi = li.approxQuantile("l_suppkey", [0.45, 0.55], 0.001)
    pk_box = {"l_partkey": (pk_lo, pk_hi)}
    sk_box = {"l_suppkey": (sk_lo, sk_hi)}
    box_2d = {**pk_box, **sk_box}

    # The headline: the dimension linear CANNOT prune, z-order must.
    z_sk, z_total = files_overlapping_box(z_path, sk_box)
    lin_sk, lin_total = files_overlapping_box(lin_path, sk_box)
    assert z_total == n_files and lin_total == n_files
    assert lin_sk == n_files, "unexpected: linear layout prunes the unsorted dim"
    assert z_sk < n_files, "z-order gave no pruning on the second dimension"

    # Balanced: BOTH single-dim boxes prune under z-order (a degenerate
    # curve — e.g. un-rescaled low-cardinality grids — fails one side).
    z_pk, _ = files_overlapping_box(z_path, pk_box)
    assert z_pk < n_files, "z-order gave no pruning on the first dimension"

    # 2-D box: intersecting both dimensions' cells never widens the set.
    z_2d, _ = files_overlapping_box(z_path, box_2d)
    assert z_2d <= min(z_pk, z_sk)
    # The documented tradeoff, pinned directionally: a dedicated 1-D sort
    # beats z-order on its own column.
    lin_pk, _ = files_overlapping_box(lin_path, pk_box)
    assert lin_pk <= z_pk


def test_zorder_api_contract_and_minmax_mode(spark, tmp_path):
    from data_warehouse_product_mix_clustering_spark.operators.layout import write_zordered, zorder_key
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    from conftest import SF_SMOKE

    li = table(spark, "lineitem", SF_SMOKE).select("l_partkey", "l_suppkey")
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 2 columns"):
        zorder_key(li, ["l_partkey"])
    with _pytest.raises(ValueError, match="exceeds 63"):
        zorder_key(li, ["l_partkey", "l_suppkey"], bits=32)
    with _pytest.raises(ValueError, match="unknown mode"):
        zorder_key(li, ["l_partkey", "l_suppkey"], mode="hilbert")

    # minmax mode: valid layout, rows conserved (keys are ~uniform in the
    # testdata, so linear gridding is exact here)
    p = str(tmp_path / "zmm")
    write_zordered(li, p, ["l_partkey", "l_suppkey"], 8, bits=8, mode="minmax")
    assert spark.read.parquet(p).count() == li.count()


def test_postings_index_incremental_update(spark, tmp_path):
    """update_postings_index applies adds/changes/removes from a CDC diff
    and leaves the index identical to a full rebuild — postings, terms,
    positions and stats, and the exact and phrase serves over them —
    including clearing a bucket directory whose every posting belonged
    to a removed doc. Both indexes hold exactly the four relations, and
    stats/ only the corpus scalars."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        read_positions,
        read_postings,
        search_phrase,
        search_postings_index,
        term_bucket_py,
        update_postings_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    base = spark.createDataFrame(
        [
            (1, "alpha beta beta"),
            (2, "beta gamma"),
            (3, "zzonlyhere zzonlyhere"),  # sole owner of its term's bucket
        ],
        "doc_id long, text string",
    )
    nxt = spark.createDataFrame(
        [
            (1, "alpha beta beta"),   # unchanged
            (2, "beta delta"),        # changed: gamma leaves, delta arrives
            (4, "epsilon alpha"),     # added
        ],                            # 3 removed entirely
        "doc_id long, text string",
    )
    tdir = str(tmp_path / "corpus")
    write_version(base, tdir)
    write_version(nxt, tdir)

    maintained = str(tmp_path / "m")
    rebuilt = str(tmp_path / "r")
    build_postings_index(base, maintained, tokens(F.col("text")))
    res = update_postings_index(
        spark, maintained, version_diff(spark, tdir, 0, 1, key=["doc_id"]),
        lambda c: tokens(c),
    )
    assert (res["added"], res["removed"], res["changed"]) == (1, 1, 1)
    build_postings_index(nxt, rebuilt, tokens(F.col("text")))

    m = read_postings(spark, maintained)
    r = read_postings(spark, rebuilt)
    assert m.exceptAll(r).isEmpty() and r.exceptAll(m).isEmpty()
    tm = spark.read.parquet(os.path.join(maintained, "terms"))
    tr = spark.read.parquet(os.path.join(rebuilt, "terms"))
    assert tm.exceptAll(tr).isEmpty() and tr.exceptAll(tm).isEmpty()
    sm = spark.read.parquet(os.path.join(maintained, "stats")).first()
    sr = spark.read.parquet(os.path.join(rebuilt, "stats")).first()
    assert (sm["n_docs"], sm["total_dl"]) == (sr["n_docs"], sr["total_dl"]) == (3, 7)
    assert abs(sm["avgdl"] - sr["avgdl"]) < 1e-12
    pm, pr = read_positions(spark, maintained), read_positions(spark, rebuilt)
    assert pm.exceptAll(pr).isEmpty() and pr.exceptAll(pm).isEmpty()
    for d in (maintained, rebuilt):
        assert {"postings", "terms", "positions", "stats"} <= set(os.listdir(d))
        assert "blocks" not in os.listdir(d)
        assert spark.read.parquet(os.path.join(d, "stats")).columns == [
            "n_docs", "total_dl", "avgdl"
        ]

    def served(idx):
        return (
            [tuple(r) for r in search_postings_index(spark, idx, ("alpha", "delta")).collect()],
            [tuple(r) for r in search_phrase(spark, idx, ("alpha", "beta")).collect()],
            [tuple(r) for r in search_phrase(spark, idx, ("beta", "delta")).collect()],
        )

    got = served(maintained)
    assert got == served(rebuilt)
    assert {d for d, _ in got[0]} == {1, 2, 4}  # alpha: 1, 4; delta: 2
    assert got[1:] == ([(1, 1)], [(2, 1)])  # the change's phrase arrived

    # doc 3's removal emptied zzonlyhere's bucket: its stale partition
    # dirs must be gone, not left to resurrect the deleted posting
    # (guard: the test corpus keeps that bucket exclusive to zzonlyhere)
    others = {term_bucket_py(t) for t in ["alpha", "beta", "gamma", "delta", "epsilon"]}
    assert term_bucket_py("zzonlyhere") not in others
    for rel in ("postings", "terms", "positions"):
        dead = os.path.join(maintained, rel, f"bucket={term_bucket_py('zzonlyhere')}")
        assert not os.path.exists(dead)


def test_postings_index_commit_marker_and_empty_terms(spark, tmp_path):
    """ADVICE r8 guards: searches with no terms fail with a clear
    ValueError (not an opaque py4j isin() error); a build/update writes
    the completion marker last, and a torn index (marker absent) refuses
    to serve searches instead of returning mutually inconsistent
    relations."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        COMMIT_MARKER,
        build_postings_index,
        index_is_committed,
        search_postings_index,
        update_postings_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    build_postings_index(docs, idx, tokens(F.col("text")))
    assert index_is_committed(idx)
    assert search_postings_index(spark, idx, ("beta",)).count() == 2

    with pytest.raises(ValueError, match="at least one query term"):
        search_postings_index(spark, idx, ())

    # a torn index (crash between relation writes) is detectable and
    # refuses reads; a completed update restores the marker
    os.remove(os.path.join(idx, COMMIT_MARKER))
    assert not index_is_committed(idx)
    with pytest.raises(RuntimeError, match="torn build/update"):
        search_postings_index(spark, idx, ("beta",))

    tdir = str(tmp_path / "corpus")
    write_version(docs, tdir)
    write_version(
        docs.unionByName(
            spark.createDataFrame([(3, "delta")], "doc_id long, text string")
        ),
        tdir,
    )
    update_postings_index(
        spark, idx, version_diff(spark, tdir, 0, 1, key=["doc_id"]),
        lambda c: tokens(c),
    )
    assert index_is_committed(idx)
    assert search_postings_index(spark, idx, ("delta",)).count() == 1


def test_write_checked_policies(spark, tmp_path):
    """Guarded publish: clean batches version; abort publishes nothing on
    a dirty batch; quarantine publishes the clean subset and conserves
    rows; bad policy args fail fast."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.quality import (
        ConstraintViolation,
        write_checked,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import read_table, versions

    clean = spark.createDataFrame(
        [(1, 5.0), (2, 6.0)], "id long, v double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame([(2, None), (3, 99.0)], "id long, v double")
    )
    tdir = str(tmp_path / "t")
    spec = dict(not_null=["v"], unique=[["id"]], ranges={"v": (0.0, 10.0)})

    v, counts = write_checked(clean, tdir, **spec)
    assert v == 0 and set(counts.values()) == {0}

    with pytest.raises(ConstraintViolation, match="not_null"):
        write_checked(dirty, tdir, on_violation="abort", **spec)
    assert versions(tdir) == [0], "abort must publish nothing"

    qdir = str(tmp_path / "q")
    v2, counts2 = write_checked(
        dirty, tdir, on_violation="quarantine", quarantine_dir=qdir, **spec
    )
    assert counts2 == {
        "not_null(v)": 1, "range(v,[0.0,10.0])": 1, "unique(id)": 1
    }
    pub = read_table(spark, tdir, v2)
    assert {r.id for r in pub.collect()} == {1}  # both id=2 copies + id=3 out
    nq = spark.read.parquet(qdir).count()
    assert pub.count() + nq == dirty.count()

    # a batch whose EVERY row violates publishes NOTHING (-1): an empty
    # version must never replace the serving table (review r8)
    allbad = spark.createDataFrame([(7, None), (8, 99.0)], "id long, v double")
    v3, _ = write_checked(
        allbad, tdir, on_violation="quarantine", quarantine_dir=qdir, **spec
    )
    assert v3 == -1
    assert versions(tdir) == [0, 1]  # no new version
    assert read_table(spark, tdir).count() == 1  # v1 still serves

    with pytest.raises(ValueError, match="requires quarantine_dir"):
        write_checked(dirty, tdir, on_violation="quarantine", **spec)
    with pytest.raises(ValueError, match="abort.*quarantine|must be"):
        write_checked(dirty, tdir, on_violation="nope", **spec)


def test_pagerank_known_graph(spark):
    """PageRank on a hand-checkable 4-node graph: ranks sum to 1, the
    dangling-free cycle nodes dominate, and the no-inlink node sits at
    the (1-d)/n + d*dangling floor. Cross-checked against the closed
    power-iteration limit computed in pure Python."""
    from data_warehouse_product_mix_clustering_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")],
        "src string, dst string",
    )
    ranks, it, resid = pagerank(edges, tol=1e-10, max_iter=60)
    got = {r.node: r.rank for r in ranks.collect()}

    # pure-python reference power iteration, same semantics
    nodes = ["a", "b", "c", "d"]
    out = {"a": ["b"], "b": ["c"], "c": ["a"], "d": ["c"]}
    r = {x: 0.25 for x in nodes}
    for _ in range(it):
        nxt = {x: 0.15 / 4 for x in nodes}
        for s, ds in out.items():
            for d in ds:
                nxt[d] += 0.85 * r[s] / len(ds)
        r = nxt
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for x in nodes:
        assert abs(got[x] - r[x]) < 1e-8, (x, got[x], r[x])
    assert got["d"] == min(got.values())  # nothing links to d

    import pytest

    with pytest.raises(ValueError, match="empty edge list"):
        pagerank(spark.createDataFrame([], "src string, dst string"))


def test_python_datasource_partitions_by_row_group(spark, tmp_path):
    """The custom DataSource must plan one InputPartition per parquet row
    group and reassemble exactly the written data — the partition path
    the single-row-group testdata never exercises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.sources.pyds import register_arrow_parquet

    path = str(tmp_path / "multi.parquet")
    tbl = pa.table({"k": list(range(1000)), "v": [float(i) * 0.5 for i in range(1000)]})
    pq.write_table(tbl, path, row_group_size=100)  # 10 row groups
    assert pq.ParquetFile(path).metadata.num_row_groups == 10

    register_arrow_parquet(spark)
    df = spark.read.format("arrowparquet").option("path", path).load()
    assert df.rdd.getNumPartitions() == 10
    assert df.count() == 1000
    got = df.agg({"k": "sum", "v": "sum"}).first()
    assert got["sum(k)"] == sum(range(1000))
    assert abs(got["sum(v)"] - sum(i * 0.5 for i in range(1000))) < 1e-9
    # projection does NOT push into Python readers (API limit, documented
    # in sources/pyds.py) — a projected read must still be correct
    assert spark.read.format("arrowparquet").option("path", path).load().select(
        "v"
    ).count() == 1000


def test_table_checksum_order_invariant_and_sensitive(spark):
    """The replica checksum must be identical under any partitioning /
    row order, change when any row changes, and distinguish NULL from
    empty string."""
    from data_warehouse_product_mix_clustering_spark.operators.quality import table_checksum

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "id long, tag string"
    )
    base = table_checksum(df, ["id", "tag"]).first()
    shuffled = table_checksum(
        df.repartition(7).sortWithinPartitions("tag"), ["id", "tag"]
    ).first()
    assert (base["n_rows"], base["checksum"]) == (3, shuffled["checksum"] and shuffled["checksum"]) and base["checksum"] == shuffled["checksum"]

    changed = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None)], "id long, tag string"
    )
    assert table_checksum(changed, ["id", "tag"]).first()["checksum"] != base["checksum"]

    empty_not_null = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "")], "id long, tag string"
    )
    assert (
        table_checksum(empty_not_null, ["id", "tag"]).first()["checksum"]
        != base["checksum"]
    )


def test_edit_distance_join_exact_vs_brute_force(spark):
    """The prefix-filtered ED join returns EXACTLY the brute-force pair
    set — including short strings (vacuous count filter), gram-disjoint
    pairs, and edits at the string head (where naive prefix blocking
    breaks)."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.strings import edit_distance_join

    probe = spark.createDataFrame(
        [
            (1, "warehouse"),
            (2, "warehous"),       # 1 deletion
            (3, "Xarehouse"),      # head substitution
            (4, "ab"),             # short
            (5, "a"),              # shorter
            (6, "zzzzzzzz"),       # gram-disjoint from everything
        ],
        "pid long, pname string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "warehouse"),
            (11, "warehousing"),   # distance 3 from 'warehouse' -> out
            (12, "carehouse"),
            (13, "ba"),            # ED(ab,ba)=2, shares no bigram
            (14, "cd"),            # ED(ab,cd)=2
            (15, ""),              # empty: ED(a,'')=1
            (16, "zzzzzzy"),
        ],
        "cid long, cname string",
    )
    got = {
        (r.pid, r.cid, r.distance)
        for r in edit_distance_join(
            probe, corpus, "pid", "cid", "pname", "cname", max_dist=2
        ).collect()
    }
    got_bcast = {
        (r.pid, r.cid, r.distance)
        for r in edit_distance_join(
            probe, corpus, "pid", "cid", "pname", "cname", max_dist=2,
            strategy="broadcast",
        ).collect()
    }
    want = {
        (r.pid, r.cid, r.d)
        for r in probe.crossJoin(corpus)
        .select(
            "pid", "cid",
            F.levenshtein("pname", "cname").cast("long").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == want and len(want) >= 8
    assert got_bcast == want  # both strategies are the same exact join

    with pytest.raises(ValueError, match="must differ"):
        edit_distance_join(probe, corpus, "pid", "cid", "pname", "pname")
    with pytest.raises(ValueError, match="max_dist"):
        edit_distance_join(probe, corpus, "pid", "cid", "pname", "cname", max_dist=0)


def test_ivfpq_index_exhaustive_equals_brute(spark, tmp_path):
    """IVF-PQ with nprobe=nlist and a rerank pool covering the whole
    probed set must return EXACTLY the brute-force top-k (the two
    approximation knobs fully opened leave only the exact rerank), and
    the cells/ relation must store codes, not raw vectors."""
    import os

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        brute_force_topk,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, nlist=8, m=16, ksub=16, seed=42)

    n = emb.count()
    got = search_ivfpq_index(
        spark, idx, probes, k=10, nprobe=8, rerank_factor=(n // 10) + 1
    )
    truth = brute_force_topk(emb, probes, k=10)
    assert got.exceptAll(truth).isEmpty() and truth.exceptAll(got).isEmpty()

    cells = spark.read.parquet(os.path.join(idx, "cells"))
    assert set(cells.columns) == {"vec_id", "__codes", "__cell"}
    assert cells.count() == n


def test_triangle_stats_hand_checked(spark):
    """Degree-oriented triangle census on hand-checkable graphs: K4 has
    4 triangles and clustering 1.0; a path has none; duplicate edges,
    reversed duplicates, and self-loops are normalized away."""
    from data_warehouse_product_mix_clustering_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(1, 0), (2, 2), (0, 1)]  # reverse dup, self-loop, dup
    df = spark.createDataFrame(noisy, "src long, dst long")
    r = triangle_stats(df).first()
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 6, 4, 12)
    assert r.global_clustering == 1.0

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    p = triangle_stats(path).first()
    assert (p.n_triangles, p.n_wedges, p.global_clustering) == (0, 2, 0.0)

    # wheel-ish: triangle + pendant (one triangle, hub degree 3)
    g = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long")
    w = triangle_stats(g).first()
    assert (w.n_triangles, w.n_wedges) == (1, 5)

    # a graph whose every edge normalizes away yields ZEROS, never NULLs
    # (review r9: sum over zero rows is NULL without the coalesce)
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
    z = triangle_stats(loops).first()
    assert tuple(z) == (0, 0, 0, 0, 0.0)


def test_ivfpq_empty_query_batch_raises(spark, tmp_path):
    """An empty probe batch fails with a clear ValueError, not an opaque
    numpy AxisError (review r9, the search_postings_index precedent)."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, nlist=8, m=16, ksub=16, seed=42)
    with pytest.raises(ValueError, match="at least one query row"):
        search_ivfpq_index(spark, idx, emb.filter(F.col("vec_id") < 0), k=5)


def test_hilbert_curve_properties_and_layout(spark, tmp_path):
    """The Hilbert key expression equals its python twin on the full
    16x16 grid, is a bijection onto [0, 256), takes only unit steps
    (the locality property Morton lacks), enforces its 2-column limit,
    and produces a valid row-conserving layout."""
    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.layout import (
        _hilbert_d2,
        hilbert_d2_py,
        write_zordered,
        zorder_key,
    )

    bits, n = 4, 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    rows = grid.withColumn("d", _hilbert_d2(F.col("x"), F.col("y"), bits)).collect()
    assert all(r.d == hilbert_d2_py(r.x, r.y, bits) for r in rows)
    assert sorted(r.d for r in rows) == list(range(n * n))
    pos = {r.d: (r.x, r.y) for r in rows}
    assert all(
        abs(pos[i][0] - pos[i + 1][0]) + abs(pos[i][1] - pos[i + 1][1]) == 1
        for i in range(n * n - 1)
    )

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    with pytest.raises(ValueError, match="exactly 2 columns"):
        zorder_key(li.withColumn("x", F.lit(1)), ["l_partkey", "l_suppkey", "x"],
                   bits=8, curve="hilbert")
    with pytest.raises(ValueError, match="unknown curve"):
        zorder_key(li, ["l_partkey", "l_suppkey"], curve="peano")

    p = str(tmp_path / "h")
    write_zordered(li, p, ["l_partkey", "l_suppkey"], 8, bits=8, curve="hilbert")
    assert spark.read.parquet(p).count() == li.count()


def test_equivalence_probe_null_approx_semantics(spark):
    """The shared audit primitive must treat NULL-on-BOTH-sides as a MATCH
    for approx columns (maintain_summary legitimately produces all-NULL
    avg groups), while NULL-on-one-side and out-of-tolerance both stay
    loud FALSEs (ADVICE r9: plain abs(l-r)<=tol coalesced a correct
    NULL==NULL maintained value into a false mismatch)."""
    from data_warehouse_product_mix_clustering_spark.operators.quality import equivalence_probe

    left = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 7.0)], "k long, v double"
    )
    both_null = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 7.0)], "k long, v double"
    )
    n, ok = equivalence_probe(left, both_null, keys=["k"], approx={"v": 1e-9})
    assert (n, ok) == (3, True), "NULL==NULL approx must match"

    one_null = spark.createDataFrame(
        [(1, 0.0), (2, 5.0), (3, 7.0)], "k long, v double"
    )
    n, ok = equivalence_probe(left, one_null, keys=["k"], approx={"v": 1e-9})
    assert (n, ok) == (3, False), "NULL vs value must stay a loud mismatch"

    off = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 9.0)], "k long, v double"
    )
    n, ok = equivalence_probe(left, off, keys=["k"], approx={"v": 0.5})
    assert (n, ok) == (3, False), "out-of-tolerance must still fail"


def test_update_ivf_index_empties_cell_and_refuses_torn(spark, tmp_path):
    """CDC maintenance mechanics the audit scenario can't force: a touched
    cell whose LAST vector is removed gets its stale partition directory
    cleared (dynamic overwrite only replaces partitions present in the
    written data), a torn index (missing commit marker) refuses
    maintenance, and a pre-maintenance index without _maint.json reports
    saturated drift (rebuild signal) instead of lying."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.postings import COMMIT_MARKER
    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivf_index,
        update_ivf_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    # two well-separated clusters so nlist=2 lands one cell each
    rows = [(i, [10.0 + 0.01 * i, 0.0]) for i in range(6)] + [
        (i, [-10.0 - 0.01 * i, 0.0]) for i in range(6, 10)
    ]
    v0 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tdir = str(tmp_path / "t")
    write_version(v0, tdir)
    # v1 removes EVERY negative-cluster vector -> that cell must empty
    v1 = v0.filter(F.col("vec_id") < 6)
    write_version(v1, tdir)

    idx = str(tmp_path / "ivf")
    build_ivf_index(v0, idx, "vec_id", "embedding", nlist=2, seed=42)
    cells_before = {
        d for d in os.listdir(os.path.join(idx, "cells")) if d.startswith("__cell=")
    }
    assert len(cells_before) == 2

    stats = update_ivf_index(
        spark, idx, version_diff(spark, tdir, 0, 1, key=["vec_id"])
    )
    assert stats["removed"] == 4 and stats["added"] == 0 and stats["changed"] == 0
    cells_after = {
        d for d in os.listdir(os.path.join(idx, "cells")) if d.startswith("__cell=")
    }
    assert len(cells_after) == 1, "emptied cell directory must be cleared"
    assert (
        spark.read.parquet(os.path.join(idx, "cells")).count() == 6
    ), "survivors only"

    # torn index: no commit marker -> BOTH maintenance and serving refuse
    # (review r10: the first cut guarded only maintenance, so a crash
    # mid-update would be silently served)
    from data_warehouse_product_mix_clustering_spark.operators.similarity import search_ivf_index

    os.remove(os.path.join(idx, COMMIT_MARKER))
    with pytest.raises(RuntimeError, match="torn"):
        update_ivf_index(spark, idx, version_diff(spark, tdir, 0, 1, key=["vec_id"]))
    with pytest.raises(RuntimeError, match="torn"):
        search_ivf_index(spark, idx, v1.limit(1), k=2, nprobe=1)

    # legacy store without the maintenance sidecar: drift saturates
    with open(os.path.join(idx, COMMIT_MARKER), "w") as f:
        f.write("committed\n")
    os.remove(os.path.join(idx, "_maint.json"))
    stats = update_ivf_index(
        spark, idx, version_diff(spark, tdir, 1, 1, key=["vec_id"])
    )
    assert stats["drift"] == float("inf")


def test_update_ivf_index_remove_everything_stays_readable(spark, tmp_path):
    """A CDC batch that removes EVERY vector clears all cell partitions;
    the emptied index must stay readable (typed-empty relations) for
    both further maintenance and serving — the MinHash hypothesis
    property found this state unreadable, and the same state is
    reachable here (review r10)."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
        update_ivf_index,
    )
    from data_warehouse_product_mix_clustering_spark.sources.versioned import version_diff, write_version

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    v0 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tdir = str(tmp_path / "t")
    write_version(v0, tdir)
    write_version(v0.filter(F.lit(False)), tdir)  # v1: empty table

    idx = str(tmp_path / "ivf")
    build_ivf_index(v0, idx, "vec_id", "embedding", nlist=2, seed=42)
    stats = update_ivf_index(
        spark, idx, version_diff(spark, tdir, 0, 1, key=["vec_id"])
    )
    assert stats["removed"] == 8 and stats["added"] == 0

    # serving an EMPTY committed index returns zero rows, not a crash
    probes = v0.limit(2)
    assert search_ivf_index(spark, idx, probes, k=3, nprobe=2).count() == 0

    # and a follow-up maintenance (re-adding rows) works on the empty store
    write_version(v0.filter(F.col("vec_id") < 3), tdir)
    stats2 = update_ivf_index(
        spark, idx, version_diff(spark, tdir, 1, 2, key=["vec_id"])
    )
    assert stats2["added"] == 3
    assert search_ivf_index(spark, idx, probes, k=2, nprobe=2).count() > 0


def test_semantic_dedup_matches_python_reference(spark):
    """operators/similarity.py::semantic_dedup — the SemDeDup recipe:
    survivors equal a python reference applying the same rule (duplicate
    iff a LOWER-id same-cluster row has rounded cosine >= threshold,
    decisions against ALL cluster rows) to the same frozen cluster
    assignment; deterministic across runs; every removed row has a
    surviving-or-not lower-id witness. A zero-norm row rides along to
    pin the survive rule: its cosine is NULL under ANSI's try_divide (a
    bare division raises DIVIDE_BY_ZERO — review r11), so it is never
    anyone's duplicate and always survives."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from data_warehouse_product_mix_clustering_spark.operators.similarity import semantic_dedup
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = (
        table(spark, "embeddings", SF_SMOKE)
        .select("vec_id", "embedding")
        .unionByName(
            spark.createDataFrame(
                [(100000, [0.0] * 64)], "vec_id long, embedding array<double>"
            ).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            )
        )
    )
    survivors = {
        r["vec_id"]: r["__cell"]
        for r in semantic_dedup(
            emb, nlist=4, threshold=0.4, seed=42
        ).collect()
    }
    again = {
        r["vec_id"]: r["__cell"]
        for r in semantic_dedup(
            emb, nlist=4, threshold=0.4, seed=42
        ).collect()
    }
    assert survivors == again  # deterministic end-to-end

    # python reference on the SAME frozen assignment
    from data_warehouse_product_mix_clustering_spark.operators.similarity import fit_ivf_codebook

    _, assigned = fit_ivf_codebook(emb, "vec_id", "embedding", 4, 42)
    rows = assigned.select("vec_id", "__v", "__cell").collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["__cell"], []).append((r["vec_id"], list(r["__v"])))

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return float("-inf")  # NULL cosine on the Spark side: never a dup
        return round(d / (na * nb) + 1e-9, 6)  # ratio_round's nudge

    want = {}
    removed = set()
    for cell, members in by_cell.items():
        members.sort()
        for i, (vid, v) in enumerate(members):
            if any(cos(v, w) >= 0.4 for _, w in members[:i]):
                removed.add(vid)
            else:
                want[vid] = cell
    assert survivors == want
    assert removed, "threshold 0.4 must bite (max within-cell cosine ~0.479 at sf0.001)"
    assert set(survivors) | removed == {r["vec_id"] for r in rows}
    assert 100000 in survivors, "zero-norm row: NULL cosine, never a dup"


def test_semantic_dedup_incremental_matches_python_reference(spark):
    """operators/similarity.py::semantic_dedup_incremental — the
    batch-vs-corpus rule against a python reference on the SAME frozen
    corpus clustering: a batch row is removed iff ANY same-cell corpus
    row (any id) or a LOWER-id same-cell batch row has rounded cosine ≥
    threshold. Pins the re-ingestion convention (a batch copy of a
    corpus vector is removed — cosine 1.0 with its twin) and the
    zero-norm always-survive rule."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        assign_to_centers,
        fit_ivf_codebook,
        semantic_dedup_incremental,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = table(spark, "embeddings", SF_SMOKE).select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") < 400)
    # batch: the rest, plus a re-ingested copy of corpus vec 0 under a
    # new id and a zero-norm row
    copy0 = corpus.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 90000).alias("vec_id"), "embedding"
    )
    zero = spark.createDataFrame(
        [(91000, [0.0] * 64)], "vec_id long, embedding array<double>"
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    batch = (
        emb.filter(F.col("vec_id") >= 400).unionByName(copy0).unionByName(zero)
    )

    thr, nlist, seed = 0.4, 4, 42
    survivors = {
        r["vec_id"]: r["__cell"]
        for r in semantic_dedup_incremental(
            batch, corpus, nlist=nlist, threshold=thr, seed=seed
        ).collect()
    }

    # python reference on the SAME frozen clustering
    model, corpus_assigned = fit_ivf_codebook(
        corpus, "vec_id", "embedding", nlist, seed
    )
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    brows = assign_to_centers(batch, centers, "vec_id", "embedding").collect()
    crows = corpus_assigned.collect()

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return float("-inf")
        return round(d / (na * nb) + 1e-9, 6)

    corpus_by_cell: dict = {}
    for r in crows:
        corpus_by_cell.setdefault(r["__cell"], []).append(list(r["__v"]))
    batch_by_cell: dict = {}
    for r in sorted(brows, key=lambda r: r["vec_id"]):
        batch_by_cell.setdefault(r["__cell"], []).append(
            (r["vec_id"], list(r["__v"]))
        )
    want = {}
    for cell, members in batch_by_cell.items():
        for i, (vid, v) in enumerate(members):
            dup = any(
                cos(v, w) >= thr for w in corpus_by_cell.get(cell, [])
            ) or any(cos(v, w) >= thr for _, w in members[:i])
            if not dup:
                want[vid] = cell
    assert survivors == want
    assert 90000 not in survivors, "re-ingested copy must be removed"
    assert 91000 in survivors, "zero-norm row: NULL cosine, never a dup"
    assert len(survivors) < batch.count(), "threshold must bite"


def test_semantic_dedup_giant_cell_routing_agrees(spark):
    """operators/similarity.py::semantic_dedup — the skew-cell gate
    (VERDICT r10 #3): cells above ``giant_cell_rows`` reroute through
    the blocked-GEMM kernel instead of the O(n_c²) per-pair self-join.
    Routing is a pure plan choice, so survivors must be IDENTICAL with
    the gate forcing every cell through GEMM (giant_cell_rows=0), none
    (huge gate), and a mixed split — on a corpus that includes a
    zero-norm row (NaN in the kernel ≡ NULL in the JVM path: never a
    duplicate) and real removals at threshold 0.4."""
    from pyspark.sql import functions as F  # noqa: F811

    from data_warehouse_product_mix_clustering_spark.operators.similarity import semantic_dedup
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = (
        table(spark, "embeddings", SF_SMOKE)
        .select("vec_id", "embedding")
        .unionByName(
            spark.createDataFrame(
                [(100000, [0.0] * 64)], "vec_id long, embedding array<double>"
            ).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            )
        )
    )

    def run(gate):
        return {
            (r["vec_id"], r["__cell"])
            for r in semantic_dedup(
                emb, nlist=4, threshold=0.4, seed=42, giant_cell_rows=gate
            ).collect()
        }

    all_gemm = run(0)
    all_join = run(10**9)
    # cells at sf0.001 hold ~100-160 rows each (501 rows / 4 cells):
    # a 120-row gate genuinely splits the corpus between the two kernels
    mixed = run(120)
    assert all_gemm == all_join == mixed
    assert len(all_gemm) < 501, "threshold 0.4 must remove at least one row"
    assert 100000 in {v for v, _ in all_gemm}, "zero-norm survives the GEMM path"


def test_semantic_dedup_groups_matches_union_find(spark):
    """operators/similarity.py::semantic_dedup_groups — the
    group-semantics variant: every row labeled with its threshold-pair
    connected component's minimum id, computed against a python
    union-find over the brute-force within-cell pair set on the SAME
    frozen assignment; identical across routing gates; unpaired rows
    (incl. a zero-norm row — NULL/NaN cosine) are their own group; and
    keep-one-per-group removes NO MORE than the greedy semantic_dedup
    (the chain property, asserted as a set relation)."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from data_warehouse_product_mix_clustering_spark.operators.similarity import (
        fit_ivf_codebook,
        semantic_dedup,
        semantic_dedup_groups,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    emb = (
        table(spark, "embeddings", SF_SMOKE)
        .select("vec_id", "embedding")
        .unionByName(
            spark.createDataFrame(
                [(100000, [0.0] * 64)], "vec_id long, embedding array<double>"
            ).select(
                "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
            )
        )
    )

    def run(gate):
        return {
            r["vec_id"]: r["group_id"]
            for r in semantic_dedup_groups(
                emb, nlist=4, threshold=0.4, seed=42, giant_cell_rows=gate
            ).collect()
        }

    got = run(10**9)
    assert got == run(0) == run(120)  # routing is a pure plan choice

    # python union-find twin on the same frozen assignment
    _, assigned = fit_ivf_codebook(emb, "vec_id", "embedding", 4, 42)
    rows = assigned.select("vec_id", "__v", "__cell").collect()
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["__cell"], []).append((r["vec_id"], list(r["__v"])))
    parent = {r["vec_id"]: r["vec_id"] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na * nb == 0:
            return float("-inf")
        return round(d / (na * nb) + 1e-9, 6)

    for members in by_cell.values():
        for i, (vi, v) in enumerate(members):
            for vj, w in members[:i]:
                if cos(v, w) >= 0.4:
                    ra, rb = find(vi), find(vj)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want
    assert got[100000] == 100000  # zero-norm: own group
    assert any(g != v for v, g in got.items()), "threshold 0.4 must group"

    # containment: every component MINIMUM has no lower-id neighbor at
    # threshold (its neighbors are in its component), so it must survive
    # the greedy rule too — reps ⊆ greedy. The reverse is false: greedy
    # keeps rows whose only witnesses are HIGHER ids, so keep-one-per-
    # component prunes at least as much as greedy.
    greedy = {r["vec_id"] for r in semantic_dedup(
        emb, nlist=4, threshold=0.4, seed=42
    ).collect()}
    reps = {v for v, g in got.items() if v == g}
    assert reps <= greedy


def test_source_token_kl_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::source_token_kl (pre-staged r13) ≡ its
    adjacent DuckDB oracle at sf0.001 — the r13 registration pastes
    exactly these two sides, so this test IS the registration's dry
    run. Also pins Gibbs' inequality (KL ≥ 0 for every source — a
    negative value means the distributions or normalizations are wrong)
    and that drift is non-degenerate on the driver corpus (some source
    actually differs from the corpus mix)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _SOURCE_KL_ORACLE,
        source_token_kl,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = source_token_kl(spark, SF_SMOKE).toPandas()
    want = con.sql(_SOURCE_KL_ORACLE).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    assert (got["kl_bits"] >= 0).all(), "Gibbs: KL can never be negative"
    assert (got["kl_bits"] > 0).any(), "drift must be non-degenerate"


def test_with_rank_and_running_matches_sequential(spark):
    """operators/packing.py::with_rank_and_running == the sequential
    definition (sort by the order, number rows, running-sum the weight)
    on a weight profile engineered to cross partition boundaries
    unevenly — ties on the weight broken by id (a total order), desc
    direction, and an empty frame."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.packing import with_rank_and_running

    weights = [7, 7, 0, 100, 3, 3, 41, 1, 1, 60, 12, 7]
    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "id long, w long")
    out = {
        r["id"]: (r["rk"], r["running"])
        for r in with_rank_and_running(
            df, [F.col("w").desc(), F.col("id")], "w"
        ).collect()
    }
    seq = sorted(range(len(weights)), key=lambda i: (-weights[i], i))
    run = 0
    for rk0, i in enumerate(seq):
        run += weights[i]
        assert out[i] == (rk0 + 1, run), (i, out[i], (rk0 + 1, run))

    empty = spark.createDataFrame([], "id long, w long")
    assert (
        with_rank_and_running(empty, [F.col("id")], "w").count() == 0
    )


def test_source_mixture_temperature_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::source_mixture_temperature (pre-staged r13) ≡
    its adjacent DuckDB oracle at sf0.001 — alpha-sampling mixture
    targets (target ∝ observedᵅ). The r13 registration pastes exactly
    these two sides, so this test IS the registration's dry run. Also
    pins the recipe's invariants: target shares are a distribution
    (sum 1 within rounding), and α=0.5 compresses toward uniform — every
    below-average source is up-weighted (weight > 1) and every
    above-average source down-weighted (weight < 1)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _SOURCE_MIXTURE_TEMPERATURE_ORACLE,
        source_mixture_temperature,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = source_mixture_temperature(spark, SF_SMOKE).toPandas()
    want = con.sql(_SOURCE_MIXTURE_TEMPERATURE_ORACLE).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    assert abs(got["target_share"].sum() - 1.0) < 1e-4
    # the true α=0.5 up/down-weight crossover is obs = 1/Z² with
    # Z = Σ√obs — NOT the arithmetic mean share (review r12 #3: by
    # Cauchy-Schwarz 1/Z² ≥ 1/n, strictly so under skew, so an
    # above-mean source can legitimately be up-weighted)
    z = (got["observed_share"] ** 0.5).sum()
    crossover = 1.0 / (z * z)
    below = got[got["observed_share"] < crossover * 0.99]
    above = got[got["observed_share"] > crossover * 1.01]
    assert (below["sampling_weight"] > 1).all()
    assert (above["sampling_weight"] < 1).all()
    assert len(below) + len(above) > 0, "crossover check must bite"


def test_training_corpus_resampled_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::training_corpus_resampled (pre-staged r14) ≡
    its adjacent DuckDB oracle at sf0.001 — the r14 registration pastes
    exactly these two sides, so this test IS the registration's dry run.
    Also pins the downsample-only realization: every keep_rate ≤ 1.0 and
    the max-weight source's rate is exactly 1.0 (the rarest source is
    never thinned)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _resampled_oracle,
        training_corpus_resampled,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = training_corpus_resampled(spark, SF_SMOKE).toPandas()
    want = con.sql(_resampled_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    rates = got.groupby("source")["keep_rate"].first()
    assert (rates <= 1.0).all()
    assert rates.max() == 1.0
    # thinning actually bites: fewer docs out than in
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert 0 < len(got) < n_docs


def test_doc_context_windows_bpe_audit_contract(spark):
    """plans/pipeline/packing.py::doc_context_windows_bpe_audit (pre-staged r14)
    returns all-TRUE at sf0.001 — the five-invariant contract (python-
    twin counts + windows on the capped slice, distributed coverage and
    tiling over the full relation, splitting bites) that the r14
    registration's constant-boolean oracle pins. This test IS the
    registration's dry run."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        doc_context_windows_bpe_audit,
    )

    row = doc_context_windows_bpe_audit(spark, SF_SMOKE).collect()[0]
    assert row["counts_match_reference"]
    assert row["windows_match_twin"]
    assert row["coverage_exact"]
    assert row["tiling_exact"]
    assert row["any_split"]


def test_training_corpus_resampled_repeats_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::training_corpus_resampled_repeats (pre-staged
    r14) ≡ its adjacent DuckDB oracle at sf0.001 — the registration's
    dry run. Also pins the upsampling semantics the downsample-only
    variant cannot express: at least one doc repeats (copy_id ≥ 2),
    every doc's copies are contiguous 1..n, and total output mass stays
    ≈ corpus size (temperature preserves total mass: Σ n_copies has
    expectation exactly |docs|)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _resampled_repeats_oracle,
        training_corpus_resampled_repeats,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = training_corpus_resampled_repeats(spark, SF_SMOKE).toPandas()
    want = con.sql(_resampled_repeats_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    per_doc = got.groupby("doc_id")["copy_id"].agg(["min", "max", "count"])
    assert (per_doc["min"] == 1).all()
    assert (per_doc["count"] == per_doc["max"]).all()  # contiguous 1..n
    assert (per_doc["max"] >= 2).any()  # upsampling actually bites
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert abs(len(got) - n_docs) <= 0.2 * n_docs  # mass conserved ±20%


def test_training_corpus_interleaved_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::training_corpus_interleaved (pre-staged r14)
    ≡ its adjacent DuckDB oracle at sf0.001 — the registration's dry
    run — plus the two contracts that make it an interleave: (a) stride
    fairness — every prefix of the stream holds each source's target
    share to within ±1.5 slots; (b) the scale shape — the FINAL plan's
    Window operators are all __pid-partitioned (both ranks ride the
    distributed prefix-sum machinery, not a global or per-source
    window; the only un-partitioned windows in the whole query run over
    the |sources|-row dimension relation upstream of its
    materialization)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _interleaved_oracle,
        training_corpus_interleaved,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = training_corpus_interleaved(spark, SF_SMOKE).toPandas()
    want = con.sql(_interleaved_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    # positions are a 1..n permutation
    pos = sorted(got["position"])
    assert pos == list(range(1, len(got) + 1))
    # stride fairness: each source's prefix count ≈ target_share × n,
    # with the targets taken from the registered temperature query (the
    # same tgt the stride divides by — non-circular: that query is
    # itself oracle-checked against DuckDB).
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        source_mixture_temperature,
    )

    tgt = {
        r["source"]: r["target_share"]
        for r in source_mixture_temperature(spark, SF_SMOKE).collect()
    }
    srt = got.sort_values("position")
    for n in (100, 250):
        pre = srt.head(n)["source"].value_counts()
        for s, share in tgt.items():
            assert abs(pre.get(s, 0) - share * n) <= 1.5, (
                n, s, pre.get(s, 0), share * n
            )
    plan = (
        training_corpus_interleaved(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    global_windows = [
        line
        for line in plan.splitlines()
        if "Window" in line and "__pid" not in line
    ]
    assert not global_windows, global_windows


def test_doc_length_bucket_batches_matches_duckdb_twin(spark):
    """plans/pipeline/packing.py::doc_length_bucket_batches (pre-staged r14) ≡
    its adjacent DuckDB oracle at sf0.001 — the registration's dry run —
    plus the batching contract: bucket_len is the smallest power-of-two
    bound ≥ n_tokens (from the shared bucket table), every batch holds
    ≤ _BATCH_SIZE docs, batch ids are dense 0..k per bucket, and only
    the LAST batch of a bucket may be ragged."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _BATCH_SIZE,
        _PAD_BUCKETS,
        _length_batches_oracle,
        doc_length_bucket_batches,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = doc_length_bucket_batches(spark, SF_SMOKE).toPandas()
    want = con.sql(_length_batches_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    # bucket assignment is the tightest bound in the table
    for _, r in got.iterrows():
        assert r.n_tokens <= r.bucket_len
        smaller = [b for b in _PAD_BUCKETS if b < r.bucket_len]
        if smaller:
            assert r.n_tokens > smaller[-1], (r.doc_id, r.n_tokens, r.bucket_len)
    per = got.groupby(["bucket_len", "batch_id"]).size()
    assert (per <= _BATCH_SIZE).all()
    for b, grp in got.groupby("bucket_len"):
        ids = sorted(grp["batch_id"].unique())
        assert ids == list(range(len(ids)))  # dense 0..k
        sizes = grp.groupby("batch_id").size()
        assert (sizes[sizes.index < sizes.index.max()] == _BATCH_SIZE).all()


def test_resampled_corpus_plans_broadcast_the_rates(spark):
    """Both temperature-application plans (downsample + repeats) join the
    |sources|-row rates relation onto documents via BroadcastHashJoin —
    never a shuffle join: the corpus side must not shuffle for a
    dimension-sized right side (the 100 TB shape the docstrings claim,
    pinned)."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        training_corpus_resampled,
        training_corpus_resampled_repeats,
    )

    for fn in (training_corpus_resampled, training_corpus_resampled_repeats):
        plan = (
            fn(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__
        assert "ShuffledHashJoin" not in plan, fn.__name__


def test_training_recipe_manifest_audit_contract(spark):
    """plans/pipeline/manifest.py::training_recipe_manifest_audit (pre-staged r14)
    returns all-TRUE at sf0.001 — manifest knobs round-trip, a rebuild
    from the manifest reproduces the exact corpus fingerprint, a
    tampered knob is detected, and the fingerprint is repartition-
    invariant. This test IS the registration's dry run; the shared
    parameterized gate pipeline (plans/text.py::gated_corpus) keeps the
    registered training_corpus and this audit on ONE definition."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        training_recipe_manifest_audit,
    )

    row = training_recipe_manifest_audit(spark, SF_SMOKE).collect()[0]
    assert row["manifest_roundtrip"]
    assert row["rebuild_matches"]
    assert row["tamper_detected"]
    assert row["fingerprint_order_free"]


def test_batch_padding_efficiency_matches_duckdb_twin(spark):
    """plans/pipeline/packing.py::batch_padding_efficiency (pre-staged r14) ≡ its
    adjacent DuckDB oracle at sf0.001, plus the accounting identities:
    padded_tokens = n_docs × bucket_len, fill_ratio ≤ 1, and per-bucket
    doc counts reconcile with the batch plan."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _padding_efficiency_oracle,
        batch_padding_efficiency,
        doc_length_bucket_batches,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = batch_padding_efficiency(spark, SF_SMOKE).toPandas()
    want = con.sql(_padding_efficiency_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    assert (got["padded_tokens"] == got["n_docs"] * got["bucket_len"]).all()
    assert (got["fill_ratio"] <= 1.0 + 1e-9).all()
    plan = doc_length_bucket_batches(spark, SF_SMOKE).toPandas()
    assert dict(plan.groupby("bucket_len").size()) == dict(
        zip(got["bucket_len"], got["n_docs"])
    )


def test_corpus_filter_waterfall_by_source_matches_duckdb_twin(spark):
    """plans/pipeline/manifest.py::corpus_filter_waterfall_by_source (pre-staged
    r14) ≡ its adjacent DuckDB oracle at sf0.001, plus the reconciliation
    contracts: per-source counts telescope (each stage ≤ the previous),
    every column sums to the corpus-wide stage count, and the final
    stage total equals the registered training_corpus size."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _waterfall_by_source_oracle,
        corpus_filter_waterfall_by_source,
    )
    from data_warehouse_product_mix_clustering_spark.plans.text import training_corpus

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    got = corpus_filter_waterfall_by_source(spark, SF_SMOKE).toPandas()
    want = con.sql(_waterfall_by_source_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert list(g.columns) == list(w.columns)
    assert g.shape == w.shape and len(g) > 0
    assert (g.astype(str).values == w.astype(str).values).all()
    stages = ["n_ingested", "n_deduped", "n_tokenized", "n_lang", "n_quality", "n_budget"]
    for a, b in zip(stages, stages[1:]):
        assert (got[b] <= got[a]).all(), (a, b)
    assert got["n_budget"].sum() == training_corpus(spark, SF_SMOKE).count()


def test_corpus_fingerprint_no_overflow_and_matches_python(spark):
    """plans/pipeline/manifest.py::corpus_fingerprint must survive corpus sizes
    where a BIGINT hash sum overflows (ANSI mode throws past ~30k
    worst-case docs — the DECIMAL(38,0) sum is the fix, review r13) and
    equal the python ground truth exactly. 70k rows ≈ 2.3× the
    worst-case overflow point; expected sum ≈ 1e19 > LONG_MAX, so this
    test FAILS (throws) on the long-sum formulation."""
    import hashlib

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import corpus_fingerprint

    n = 70_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(3).cast("long").alias("n_tokens")
    )
    got = corpus_fingerprint(df)
    want_h = sum(
        int(hashlib.md5(str(i).encode()).hexdigest()[:12], 16) for i in range(n)
    )
    assert got == (n, want_h, 3 * n)
    assert want_h > 2**63 - 1, "test must actually exceed LONG_MAX"


def test_coreset_maxmin_audit_contract(spark):
    """plans/similarity.py::coreset_maxmin_audit (pre-staged) — all five
    contract booleans at smoke SF: distributed picks ≡ python twin
    exactly (ids, order, distances — sequential IEEE fold both sides),
    seed/monotonicity/budget/distinctness invariants. This test IS the
    registration's dry run."""
    from data_warehouse_product_mix_clustering_spark.plans.similarity import coreset_maxmin_audit

    row = coreset_maxmin_audit(spark, SF_SMOKE).collect()[0]
    assert row.picks_match_twin
    assert row.first_is_seed
    assert row.dists_nonincreasing
    assert row.k_picks
    assert row.picks_distinct


def test_maxmin_coreset_edges(spark):
    """operators/selection.py::maxmin_coreset edge semantics: k > n
    stops at n picks; an all-duplicates corpus stops after the seed
    (max-min distance 0 means the space is covered — returning
    duplicate picks would be a lie about coverage); k <= 0 raises;
    empty input returns no picks."""
    import pytest

    from data_warehouse_product_mix_clustering_spark.operators.selection import (
        maxmin_coreset,
        maxmin_coreset_py,
    )

    three = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 2.0])],
        "id long, v array<float>",
    )
    picks = maxmin_coreset(three, "id", "v", 10)
    assert [i for i, _ in picks] == [1, 3, 2]  # seed, farthest, remaining
    assert picks == maxmin_coreset_py(
        {1: [0.0, 0.0], 2: [1.0, 0.0], 3: [0.0, 2.0]}, 10
    )
    dups = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(5)], "id long, v array<float>"
    )
    assert maxmin_coreset(dups, "id", "v", 3) == [(0, 0.0)]
    with pytest.raises(ValueError):
        maxmin_coreset(three, "id", "v", 0)
    empty = spark.createDataFrame([], "id long, v array<float>")
    assert maxmin_coreset(empty, "id", "v", 2) == []


def test_training_batches_audit_contract(collected):
    """plans/pipeline/batches.py::training_batches_audit (pre-staged r15) returns
    all-TRUE at sf0.001: the one-call corpus→batches composition
    conserves tokens corpus→windows→batches, ships exact dense-tensor
    batch shapes, carries interleave prefix-fairness through to batch
    order, rebuilds to the same fingerprint from a JSON-roundtripped
    recipe, and — the deployment-shape claim — equals the same five
    stages run as separate parquet-materialized jobs with reshuffled
    layouts. This test IS the registration's dry run."""
    row = collected("training_batches_audit").iloc[0]
    assert row["tokens_conserved"]
    assert row["batches_exact"]
    assert row["prefix_fair"]
    assert row["fingerprint_reproducible"]
    assert row["matches_staged"]
    assert row["contract_bites"]


def test_doremi_training_batches_audit_contract(collected):
    """plans/pipeline/batches.py::doremi_training_batches_audit
    (pre-staged r16) returns all-TRUE at sf0.001: the DoReMi mixture
    enters ``training_batches`` as a recipe field, its keep rates match
    a driver twin exactly, the realized survivors are the policy's
    survivors, the recipe (mixture field included) rebuilds to the same
    fingerprint, and the field demonstrably changes the plan vs the
    temperature default. This test IS the registration's dry run."""
    row = collected("doremi_training_batches_audit").iloc[0]
    assert row["rates_match_twin"]
    assert row["policy_applied"]
    assert row["fingerprint_reproducible"]
    assert row["differs_from_temperature"]
    assert row["tokens_conserved"]


def test_training_batches_plan_shape(spark):
    """plans/pipeline/batches.py::training_batches structural receipts at
    sf0.001 beyond the audit booleans: the output schema is the
    documented gather plan, positions are a contiguous 1..N total order
    over the resampled survivors, every (seq_id, seq_offset) window
    cell is unique (no overlapping slices), and batch_id is exactly
    seq_id DIV batch_size."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _BATCH_SIZE,
        training_batches,
    )

    plan = training_batches(spark, SF_SMOKE).localCheckpoint(eager=True)
    assert plan.columns == [
        "batch_id", "seq_id", "position", "doc_id", "source",
        "slice_start", "slice_len", "seq_offset",
    ]
    pos = sorted(
        r["position"] for r in plan.select("position").distinct().collect()
    )
    assert pos == list(range(1, len(pos) + 1))
    n = plan.count()
    assert plan.select("seq_id", "seq_offset").distinct().count() == n
    assert (
        plan.filter(
            F.col("batch_id") != F.expr(f"seq_id DIV {_BATCH_SIZE}")
        ).count()
        == 0
    )


def test_source_mixture_doremi_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::source_mixture_doremi (pre-staged r15) ≡ its
    adjacent DuckDB oracle at sf0.001, plus the method's invariants:
    weights normalize to 1, every domain's excess bits is nonnegative
    (its own LM cannot fit it worse than the corpus LM does — both are
    additive-smoothed MLE fits of the same counts), and the reweight
    moves mass toward higher-excess domains relative to size-only
    sampling (sign of (doremi_weight − observed_share) tracks excess
    vs the mixture-average excess)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _doremi_oracle,
        source_mixture_doremi,
    )

    got = source_mixture_doremi(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_doremi_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()
    assert abs(got["doremi_weight"].sum() - 1.0) < 1e-4
    assert (got["excess_bits"] >= 0).all()
    # exponentiated reweight: above-average-excess domains gain share
    avg_excess = (got["excess_bits"] * got["observed_share"]).sum()
    gained = got[got["doremi_weight"] > got["observed_share"] + 1e-9]
    assert (gained["excess_bits"] > avg_excess - 0.02).all()


def test_source_budget_allocation_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::source_budget_allocation (pre-staged r15) ≡
    its adjacent DuckDB oracle at sf0.001, plus the water-filling
    invariants: Σ alloc_tokens hits the budget to within per-source
    rounding, saturation actually bites (some sources capped, some
    not — the frontier search is exercised), saturated sources keep
    100%, and no source is allocated more than it has."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        BUDGET_FRAC,
        _budget_allocation_oracle,
        source_budget_allocation,
    )

    got = source_budget_allocation(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_budget_allocation_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()
    budget = round(BUDGET_FRAC * got["total_tokens"].sum())
    assert abs(got["alloc_tokens"].sum() - budget) <= len(got)
    assert 0 < got["saturated"].sum() < len(got)
    sat = got[got["saturated"]]
    assert (sat["alloc_tokens"] == sat["total_tokens"]).all()
    assert (sat["keep_rate"] == 1.0).all()
    assert (got["alloc_tokens"] <= got["total_tokens"]).all()


def test_training_corpus_budgeted_matches_duckdb_twin(spark):
    """plans/pipeline/mixture.py::training_corpus_budgeted (pre-staged r15) ≡
    its adjacent DuckDB oracle at sf0.001, and the rates→corpus closure
    holds: every saturated source rides through complete, no source
    keeps more docs than it has, and the corpus as a whole is thinned
    (per-source thinning is in EXPECTATION — a small unsaturated source
    at rate ~0.95 can keep everything by hash luck, so only the
    saturated direction is deterministic per source)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _budgeted_corpus_oracle,
        source_budget_allocation,
        training_corpus_budgeted,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table
    from pyspark.sql import functions as F

    got = training_corpus_budgeted(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_budgeted_corpus_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    alloc = source_budget_allocation(spark, SF_SMOKE).toPandas()
    docs = (
        table(spark, "documents", SF_SMOKE)
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).toPandas()
    )
    kept = got.groupby("source").size()
    for _, row in alloc.iterrows():
        n_src = int(docs[docs["source"] == row["source"]]["n"].iloc[0])
        n_kept = int(kept.get(row["source"], 0))
        assert n_kept <= n_src, row["source"]
        if row["saturated"]:
            assert n_kept == n_src, row["source"]
    assert len(got) < int(docs["n"].sum())


def test_training_corpus_decontaminated_matches_duckdb_twin(spark):
    """plans/pipeline/contamination.py::training_corpus_decontaminated (pre-staged
    r15) ≡ its adjacent DuckDB oracle at sf0.001, and BOTH exclusion
    clauses bite: the held-out benchmark docs are gone AND at least one
    train doc is dropped for shingle overlap beyond the eval exclusion
    (the gate is exercised, not vacuous)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        EVAL_CAP,
        EVAL_MOD,
        _decontaminated_oracle,
        training_corpus_decontaminated,
    )
    from data_warehouse_product_mix_clustering_spark.plans.text import gated_corpus

    got = training_corpus_decontaminated(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_decontaminated_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()
    is_eval = (got["doc_id"] % EVAL_MOD == 0) & (got["doc_id"] < EVAL_CAP)
    assert not is_eval.any()
    gated = gated_corpus(spark, SF_SMOKE).toPandas()
    gated_eval = (gated["doc_id"] % EVAL_MOD == 0) & (gated["doc_id"] < EVAL_CAP)
    n_eval_in_gated = int(gated_eval.sum())
    assert n_eval_in_gated > 0  # the eval clause has something to remove
    assert len(got) < len(gated) - n_eval_in_gated  # overlap clause bites too


def test_training_batches_decontaminate_knob(spark):
    """plans/pipeline/batches.py::training_batches(decontaminate=True) composes
    the fixed-benchmark exclusion into the one-call flow: no excluded
    doc (eval or overlap-gated) appears in the clean plan, the plan
    actually changes (the knob bites — note the doc set is NOT a strict
    subset of the default plan's: the resample rates correctly track
    the corpus being shipped, so a thinner source's keep rate rises),
    and the plan stays structurally exact (every non-final window
    tiles)."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _apply_decontamination,
        training_batches,
    )
    from data_warehouse_product_mix_clustering_spark.plans.text import gated_corpus

    base = training_batches(spark, SF_SMOKE).localCheckpoint(eager=True)
    clean = training_batches(spark, SF_SMOKE, decontaminate=True).localCheckpoint(
        eager=True
    )
    base_docs = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    clean_docs = {r["doc_id"] for r in clean.select("doc_id").distinct().collect()}
    assert clean_docs != base_docs  # the knob bites
    kept_after_decontam = {
        r["doc_id"]
        for r in _apply_decontamination(
            spark, SF_SMOKE, gated_corpus(spark, SF_SMOKE)
        ).select("doc_id").collect()
    }
    assert clean_docs <= kept_after_decontam  # nothing excluded leaks in
    # structural exactness survives the knob
    L = 64
    per_win = clean.groupBy("seq_id").agg(F.sum("slice_len").alias("s"))
    mx = clean.agg(F.max("seq_id")).first()[0]
    assert per_win.filter((F.col("seq_id") < mx) & (F.col("s") != L)).count() == 0


def test_waterfill_budget_exceeds_inventory(spark):
    """plans/pipeline/mixture.py::waterfill_allocation edge: a budget at or
    above the whole inventory saturates every source (no unsaturated
    frontier row exists, the NULL-water-level branch) — every
    allocation equals its inventory at keep rate 1."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import waterfill_allocation

    per_src = spark.createDataFrame(
        [("a", 100), ("b", 300), ("c", 50)],
        "source string, total_tokens long",
    )
    got = {r["source"]: r.asDict() for r in
           waterfill_allocation(per_src, 0.0, 1.5).collect()}
    for s, t in (("a", 100), ("b", 300), ("c", 50)):
        assert got[s]["alloc_tokens"] == t
        assert got[s]["keep_rate"] == 1.0
        assert got[s]["saturated"]


def test_doc_context_windows_eod_matches_duckdb_twin(spark):
    """plans/pipeline/packing.py::doc_context_windows_eod (pre-staged r15) ≡ its
    adjacent DuckDB oracle at sf0.001, plus the separator accounting:
    Σ slice_len = Σ whitespace tokens + |docs| exactly (one EOD per
    document), and EVERY document appears — including any with zero
    tokens (a bare separator), which the plain variant drops."""
    import duckdb

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _EOD_WINDOWS_ORACLE,
        doc_context_windows_eod,
    )
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    got = doc_context_windows_eod(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_EOD_WINDOWS_ORACLE).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()
    docs = table(spark, "documents", SF_SMOKE)
    total_tokens = docs.agg(F.sum(F.size(tokens(F.col("text"))))).first()[0]
    n_docs = docs.count()
    assert int(got["slice_len"].sum()) == int(total_tokens) + n_docs
    assert got["doc_id"].nunique() == n_docs


def test_doc_dsir_weight_matches_duckdb_twin(spark):
    """plans/pipeline/dsir.py::doc_dsir_weight (pre-staged r15) ≡ its adjacent
    DuckDB oracle at sf0.001, plus the method's invariants: the selection
    bites (a strict nonempty proper subset of the corpus), the hashed
    feature space stays within its fixed 4096-bucket bound on both model
    sides (the DSIR broadcast-by-construction guarantee), and the
    length-normalized score separates the target language — en docs'
    mean dsir_logw_rate beats every other language's (the importance
    weights rank target-affinity, not length)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        DSIR_HEX,
        _dsir_feature_counts,
        _dsir_oracle,
        doc_dsir_weight,
    )

    got = doc_dsir_weight(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_dsir_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    n_sel = int(got["dsir_selected"].sum())
    assert 0 < n_sel < len(got)

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    fc = _dsir_feature_counts(docs)
    n_buckets = fc.select("bucket").distinct().count()
    assert n_buckets <= 16**DSIR_HEX

    langs = con.sql("SELECT doc_id, lang FROM documents").df()
    rates = got.merge(langs, on="doc_id").groupby("lang")["dsir_logw_rate"].mean()
    assert all(rates["en"] > rates[lg] for lg in rates.index if lg != "en")


def test_train_logreg_py_learns_separable_toy():
    """ml/logreg.py::train_logreg_py on a linearly separable toy set:
    Adagrad drives the loss down and the decisions to the true labels,
    and the run is deterministic (same inputs → identical weights)."""
    from data_warehouse_product_mix_clustering_spark.ml.logreg import (
        BIAS_KEY,
        _sigmoid_py,
        _snap,
        train_logreg_py,
    )

    feats = {i: {"f": _snap(i / 20.0)} for i in range(20)}
    labels = {i: 1.0 if i >= 10 else 0.0 for i in range(20)}
    w, losses = train_logreg_py(
        feats, labels, n_iter=40, lr=2.0, l2=0.0, track_loss=True
    )
    assert losses[-1] < losses[0]
    for i, y in labels.items():
        m = _snap(feats[i]["f"] * w["f"] + w[BIAS_KEY])
        assert (_snap(_sigmoid_py(m)) >= 0.5) == (y == 1.0)
    w2, _ = train_logreg_py(feats, labels, n_iter=40, lr=2.0, l2=0.0)
    assert w == w2


def test_quality_classifier_audit_contract(collected):
    """plans/pipeline/classifiers.py::quality_classifier_audit (pre-staged r15) — the
    registration dry run: all five contract booleans TRUE at sf0.001
    (twin bit-equality incl. the loss trace, rerun identity, descending
    loss, held-out accuracy ≥ floor, gate separation)."""
    row = collected("quality_classifier_audit").iloc[0].to_dict()
    assert all(row.values()), row


def test_doc_quality_classifier_shape_and_holdout(spark):
    """plans/pipeline/classifiers.py::doc_quality_classifier (pre-staged r15,
    rows-only): one row per document, the disagreement flag is exactly
    predicted != gate_label, the held_out flag is doc_id parity, and
    held-out agreement with the gate clears the audit floor."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        CLF_ACC_FLOOR,
        doc_quality_classifier,
    )

    got = doc_quality_classifier(spark, SF_SMOKE).toPandas()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(got) == n_docs
    assert got["doc_id"].nunique() == n_docs
    assert (got["disagrees"] == (got["predicted"] != got["gate_label"])).all()
    assert (got["held_out"] == (got["doc_id"] % 2 != 0)).all()
    held = got[got["held_out"]]
    assert 1.0 - held["disagrees"].mean() >= CLF_ACC_FLOOR
    assert got["p_keep"].between(0.0, 1.0).all()


def test_training_corpus_dsir_matches_duckdb_twin(spark):
    """plans/pipeline/dsir.py::training_corpus_dsir (pre-staged r15) ≡ its
    adjacent DuckDB oracle at sf0.001 and keeps a strict nonempty proper
    subset of the corpus (the selection bites both ways)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _dsir_corpus_oracle,
        training_corpus_dsir,
    )

    got = training_corpus_dsir(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_dsir_corpus_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert 0 < len(got) < n_docs


def test_dsir_incremental_audit_contract(spark):
    """plans/pipeline/dsir.py::dsir_incremental_audit (pre-staged r15) — the
    registration dry run: all five contract booleans TRUE at sf0.001
    (store ≡ batch models exactly, scores bit-equal to doc_dsir_weight,
    replay idempotent, empty batch no-op, per-batch deltas ≤ 4096 rows)."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import dsir_incremental_audit

    row = dsir_incremental_audit(spark, SF_SMOKE).collect()[0]
    assert all(row.asDict().values()), row.asDict()


def test_quality_model_serving_audit_contract(spark):
    """plans/pipeline/classifiers.py::quality_model_serving_audit (pre-staged r15) —
    the registration dry run: all four contract booleans TRUE at
    sf0.001 (save/load weight roundtrip bit-exact, served scores ≡
    in-memory, meta mismatch refused, torn artifact refused)."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import quality_model_serving_audit

    row = quality_model_serving_audit(spark, SF_SMOKE).collect()[0]
    assert all(row.asDict().values()), row.asDict()


def test_stream_model_scoring_audit_contract(collected):
    """plans/pipeline/classifiers.py::stream_model_scoring_audit (pre-staged r15) —
    the registration dry run: all four contract booleans TRUE at
    sf0.001 (streamed ≡ one-batch scoring under the frozen artifact,
    count log reconciles, rerun no-op, replay idempotent)."""
    row = collected("stream_model_scoring_audit").iloc[0].to_dict()
    assert all(row.values()), row


def test_benchmark_contamination_report_matches_duckdb_twin(spark):
    """plans/pipeline/contamination.py::benchmark_contamination_report (pre-staged
    r15) ≡ its adjacent DuckDB oracle at sf0.001, and the report's
    flags ARE the apply path's drops: the decontaminated corpus equals
    the gated corpus minus benchmark docs minus flagged doc_ids."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        EVAL_CAP,
        EVAL_MOD,
        _contamination_report_oracle,
        benchmark_contamination_report,
        training_corpus_decontaminated,
    )
    from data_warehouse_product_mix_clustering_spark.plans.text import gated_corpus

    got = benchmark_contamination_report(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_contamination_report_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    flagged = set(got[got["flagged"]]["doc_id"])
    gated = {r["doc_id"] for r in gated_corpus(spark, SF_SMOKE).collect()}
    is_eval = lambda i: i % EVAL_MOD == 0 and i < EVAL_CAP  # noqa: E731
    expect = {i for i in gated if not is_eval(i) and i not in flagged}
    decon = {
        r["doc_id"]
        for r in training_corpus_decontaminated(spark, SF_SMOKE).collect()
    }
    assert decon == expect


def test_dsir_feature_counts_conserve_tokens(spark):
    """operators/dsir.py::feature_counts — per-doc bucket counts sum to
    exactly 2n−1 for an n-token doc (n unigrams + n−1 bigrams): hashing
    relocates features, never creates or drops them."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.dsir import feature_counts

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    got = {
        r["doc_id"]: r["s"]
        for r in feature_counts(docs)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("s"))
        .collect()
    }
    lens = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(tokens(F.col("text"))).alias("n")
        ).collect()
    }
    for i, n in lens.items():
        assert got.get(i, 0) == (2 * n - 1 if n >= 1 else 0)


def test_source_dsir_mixture_matches_duckdb_twin(spark):
    """plans/pipeline/dsir.py::source_dsir_mixture (pre-staged r15) ≡ its
    adjacent DuckDB oracle at sf0.001, one row per source, counts
    reconciling with doc_dsir_weight."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _dsir_by_source_oracle,
        doc_dsir_weight,
        source_dsir_mixture,
    )

    got = source_dsir_mixture(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_dsir_by_source_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    per_doc = doc_dsir_weight(spark, SF_SMOKE).toPandas()
    assert int(got["n_docs"].sum()) == len(per_doc)
    assert int(got["n_selected"].sum()) == int(per_doc["dsir_selected"].sum())


def test_train_logreg_partitioning_invariant(spark):
    """ml/logreg.py::train_logreg — the snapped-arithmetic contract's
    point: weights cannot depend on physical partitioning. Train the
    same slice under shuffle widths 2 and 7; weight dicts must be
    identical (==, no tolerance)."""
    from data_warehouse_product_mix_clustering_spark.ml.logreg import train_logreg
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _clf_features, _gate_labels

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 120"
    )
    feats = _clf_features(docs).localCheckpoint(eager=True)
    labels = _gate_labels(docs).localCheckpoint(eager=True)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for n in ("2", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            w, _ = train_logreg(feats, labels, n_iter=6, lr=4.0, l2=1e-4)
            results.append(w)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1]


def test_training_corpus_dsir_budgeted_matches_duckdb_twin(spark):
    """plans/pipeline/dsir.py::training_corpus_dsir_budgeted (pre-staged r15)
    ≡ its adjacent DuckDB oracle at sf0.001, plus the greedy-fill
    invariants: within each source the kept ranks are the contiguous
    prefix 1..k (best docs first, no gaps), and each source's kept
    tokens stay under allocation + its straddling doc."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _dsir_budgeted_oracle,
        source_budget_allocation,
        training_corpus_dsir_budgeted,
    )

    got = training_corpus_dsir_budgeted(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_dsir_budgeted_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    for src, grp in got.groupby("source"):
        ranks = sorted(grp["src_rank"])
        assert ranks == list(range(1, len(ranks) + 1))
    alloc = {
        r["source"]: r["alloc_tokens"]
        for r in source_budget_allocation(spark, SF_SMOKE).collect()
    }
    for src, grp in got.groupby("source"):
        kept = int(grp["n_tokens"].sum())
        straddle = int(grp.loc[grp["src_rank"].idxmax(), "n_tokens"])
        assert kept - straddle < alloc[src]


def test_lang_classifier_audit_contract(collected):
    """plans/pipeline/classifiers.py::lang_classifier_audit (pre-staged r15) — the
    registration dry run: all four contract booleans TRUE at sf0.001
    (softmax twin bit-equality incl. the loss trace, rerun identity,
    descending cross-entropy, held-out accuracy strictly beating the
    majority class)."""
    row = collected("lang_classifier_audit").iloc[0].to_dict()
    assert all(row.values()), row


def test_doc_lang_classifier_shape(spark, collected):
    """plans/pipeline/classifiers.py::doc_lang_classifier (pre-staged r15,
    rows-only): one row per nonempty doc, agrees ≡ (pred == teacher),
    p_top in (0, 1], and held-out agreement beats the held-out majority
    share."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import _lang_labels
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    got = collected("doc_lang_classifier")
    docs = table(spark, "documents", SF_SMOKE)
    n_labeled = _lang_labels(docs).count()
    assert len(got) == n_labeled
    assert (got["agrees"] == (got["lang_pred"] == got["lang_teacher"])).all()
    assert (got["p_top"] > 0).all() and (got["p_top"] <= 1.0).all()
    held = got[got["held_out"]]
    majority = held["lang_teacher"].value_counts(normalize=True).max()
    assert held["agrees"].mean() > majority


def test_doc_length_equidepth_batches_matches_duckdb_twin(spark):
    """plans/pipeline::doc_length_equidepth_batches (pre-staged r15)
    ≡ its adjacent DuckDB ntile oracle at sf0.001, plus the equi-depth
    invariants: bucket sizes differ by at most one doc (ntile's
    defining property), every doc fits its bucket's pad length, and
    the adaptive buckets waste no more padding than the fixed
    power-of-two grid on the same corpus."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        EQUIDEPTH_K,
        _equidepth_batches_oracle,
        doc_length_bucket_batches,
        doc_length_equidepth_batches,
    )

    got = doc_length_equidepth_batches(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_equidepth_batches_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    sizes = got.groupby("bucket_id").size()
    assert len(sizes) == EQUIDEPTH_K
    assert sizes.max() - sizes.min() <= 1
    assert (got["n_tokens"] <= got["pad_len"]).all()

    fixed = doc_length_bucket_batches(spark, SF_SMOKE).toPandas()
    waste_eq = int((got["pad_len"] - got["n_tokens"]).sum())
    waste_fx = int((fixed["bucket_len"] - fixed["n_tokens"]).sum())
    assert waste_eq <= waste_fx


def test_equidepth_padding_efficiency_matches_duckdb_twin(spark):
    """plans/pipeline/packing.py::equidepth_padding_efficiency (pre-staged r15)
    ≡ its adjacent DuckDB oracle at sf0.001; per-bucket token accounting
    reconciles with the batch plan, and the adaptive plan's overall
    fill ratio beats the fixed grid's on this corpus."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _equidepth_efficiency_oracle,
        batch_padding_efficiency,
        equidepth_padding_efficiency,
    )

    got = equidepth_padding_efficiency(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_equidepth_efficiency_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    fixed = batch_padding_efficiency(spark, SF_SMOKE).toPandas()
    fill_eq = got["real_tokens"].sum() / got["padded_tokens"].sum()
    fill_fx = fixed["real_tokens"].sum() / fixed["padded_tokens"].sum()
    assert fill_eq > fill_fx


def test_dsir_context_windows_matches_duckdb_twin(spark):
    """plans/pipeline/dsir.py::dsir_context_windows (pre-staged r15) ≡ its
    adjacent end-to-end oracle at sf0.001, and token conservation holds
    across the composition: Σ slice_len equals the budgeted corpus's
    total kept tokens, and the packed doc set IS the budgeted corpus."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _dsir_windows_oracle,
        dsir_context_windows,
        training_corpus_dsir_budgeted,
    )

    got = dsir_context_windows(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_dsir_windows_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    corpus = training_corpus_dsir_budgeted(spark, SF_SMOKE).toPandas()
    assert int(got["slice_len"].sum()) == int(
        corpus.loc[corpus["n_tokens"] > 0, "n_tokens"].sum()
    )
    assert set(got["doc_id"]) == set(
        corpus.loc[corpus["n_tokens"] > 0, "doc_id"]
    )


def test_benchmark_contamination_fuzzy_matches_duckdb_twin(spark):
    """plans/pipeline/contamination.py::benchmark_contamination_fuzzy (pre-staged r15)
    ≡ its adjacent DuckDB oracle at sf0.001; nonempty (near-paraphrases
    of benchmark docs exist in the corpus), no benchmark doc on the
    train side, and every pair's Jaccard clears the threshold."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        EVAL_CAP,
        EVAL_MOD,
        FUZZY_CONTAM_THRESHOLD,
        _fuzzy_contamination_oracle,
        benchmark_contamination_fuzzy,
    )

    got = benchmark_contamination_fuzzy(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_fuzzy_contamination_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    assert len(got) > 0
    assert (got["jaccard"] >= FUZZY_CONTAM_THRESHOLD).all()
    assert not (
        (got["doc_id"] % EVAL_MOD == 0) & (got["doc_id"] < EVAL_CAP)
    ).any()
    assert (
        (got["bench_doc_id"] % EVAL_MOD == 0) & (got["bench_doc_id"] < EVAL_CAP)
    ).all()


def test_contamination_screens_match_independent_python(spark):
    """THIRD-PATH check for both contamination screens: the Spark plan
    and its DuckDB oracle mirror each other, so a shared misconception
    would pass the hash gate — this recomputes the exact 3-gram report
    AND the fuzzy bigram-Jaccard pairs from the raw parquet with plain
    python string ops (re.split tokens, sliced n-grams, set algebra),
    sharing NO code with either engine path, and requires exact
    equality (6-dp snap included)."""
    import re

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        DECONTAM_THRESHOLD,
        EVAL_CAP,
        EVAL_MOD,
        FUZZY_CONTAM_THRESHOLD,
        benchmark_contamination_fuzzy,
        benchmark_contamination_report,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "source", "text"]
    ]

    def grams(text, n):
        t = [w for w in re.split(r"\s+", text.strip()) if w]
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    def snap(x):
        return round(x + 1e-9, 6)

    is_eval = lambda d: d % EVAL_MOD == 0 and d < EVAL_CAP  # noqa: E731

    # -- exact screen: distinct-3-gram overlap vs the benchmark union --
    tri = {int(r.doc_id): grams(r.text, 3) for r in docs.itertuples()}
    bench_union = set().union(
        *(s for d, s in tri.items() if is_eval(d)), set()
    )
    want_report = {
        d: (
            len(s),
            len(s & bench_union),
            snap(len(s & bench_union) / len(s)),
            snap(len(s & bench_union) / len(s)) >= DECONTAM_THRESHOLD,
        )
        for d, s in tri.items()
        if not is_eval(d) and s
    }
    got_report = {
        int(r.doc_id): (
            int(r.n_shingles),
            int(r.n_shared),
            float(r.overlap),
            bool(r.flagged),
        )
        for r in benchmark_contamination_report(spark, SF_SMOKE)
        .toPandas()
        .itertuples()
    }
    assert got_report == want_report
    assert any(v[3] for v in want_report.values())  # the screen bites

    # -- fuzzy screen: per-pair bigram Jaccard vs each benchmark doc --
    bi = {int(r.doc_id): grams(r.text, 2) for r in docs.itertuples()}
    want_fuzzy = {}
    for d, s in bi.items():
        if is_eval(d) or not s:
            continue
        for b, t in bi.items():
            if not is_eval(b) or not t:
                continue
            i = len(s & t)
            if i and snap(i / (len(s) + len(t) - i)) >= FUZZY_CONTAM_THRESHOLD:
                want_fuzzy[(d, b)] = snap(i / (len(s) + len(t) - i))
    got_fuzzy = {
        (int(r.doc_id), int(r.bench_doc_id)): float(r.jaccard)
        for r in benchmark_contamination_fuzzy(spark, SF_SMOKE)
        .toPandas()
        .itertuples()
    }
    assert got_fuzzy == want_fuzzy
    assert want_fuzzy  # near-paraphrases exist at this SF


def test_doremi_weights_match_independent_python(spark):
    """THIRD-PATH check for ``source_mixture_doremi`` (same rationale as
    the contamination third-path test): per-source excess bits and the
    exponentiated-gradient weights recomputed from the raw parquet with
    collections.Counter LMs — additive smoothing a=0.5, log2 scoring,
    excess snapped BEFORE exponentiation, raw (unsnapped) observed
    shares inside the reweight — compared exactly to the registered
    query."""
    import math
    import re
    from collections import Counter

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        DOREMI_TAU,
        source_mixture_doremi,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["source", "text"]]

    def snap(x):
        return round(x + 1e-9, 6)

    a = 0.5
    sw: dict[str, Counter] = {}
    for r in docs.itertuples():
        toks = [w for w in re.split(r"\s+", r.text.strip()) if w]
        sw.setdefault(r.source, Counter()).update(toks)
    cw = Counter()
    for c in sw.values():
        cw.update(c)
    n_c, v_c = sum(cw.values()), len(cw)
    logp_c = {w: math.log2((c + a) / (n_c + a * v_c)) for w, c in cw.items()}

    rows = {}
    for s, counts in sw.items():
        n_s, v_s = sum(counts.values()), len(counts)
        excess = snap(
            sum(
                c * (math.log2((c + a) / (n_s + a * v_s)) - logp_c[w])
                for w, c in counts.items()
            )
            / n_s
        )
        rows[s] = (n_s, excess)
    total = sum(n for n, _ in rows.values())
    raw = {
        s: (n / total) * (2.0 ** (ex / DOREMI_TAU)) for s, (n, ex) in rows.items()
    }
    z = sum(raw.values())
    want = {
        s: (n, snap(n / total), ex, snap(raw[s] / z))
        for s, (n, ex) in rows.items()
    }
    got = {
        r.source: (
            int(r.n_tokens),
            float(r.observed_share),
            float(r.excess_bits),
            float(r.doremi_weight),
        )
        for r in source_mixture_doremi(spark, SF_SMOKE).toPandas().itertuples()
    }
    assert got == want


def test_flagship_summaries_match_independent_pandas(spark):
    """THIRD-PATH check for the two flagship warehouse summaries: the
    driver-contract entry query ``cluster_summary`` (left join +
    distinct-order counts + COALESCE zeros) and the TPC-H-Q1-shaped
    headline ``pricing_summary``, both recomputed from raw parquet
    with pandas groupbys and the documented decimal-snap roundings —
    no star-schema code, no DuckDB."""

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.warehouse import (
        cluster_summary,
        pricing_summary,
    )

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet")

    money = money_snap

    def ratio(x, out=6):
        return round(x + 1e-9, out)

    # -- cluster_summary: every product row, zero-filled when unsold --
    li2 = li.assign(line_total=li.l_extendedprice * (1.0 - li.l_discount))
    per_order = li2.groupby(["l_partkey", "l_orderkey"]).agg(
        qty=("l_quantity", "sum"), line=("line_total", "sum")
    )
    per_product = per_order.groupby(level=0).agg(
        freq=("qty", "size"), tq=("qty", "sum"), tr=("line", "sum")
    )
    want_cs = {}
    for r in part.itertuples():
        pid = int(r.p_partkey)
        if pid in per_product.index:
            row = per_product.loc[pid]
            want_cs[pid] = (
                r.p_name,
                int(row.freq),
                float(row.tq),
                money(row.tr),
            )
        else:
            want_cs[pid] = (r.p_name, 0, 0.0, 0.0)
    got_cs = {
        int(r["product_id"]): (
            r["product_name"],
            int(r["order_frequency"]),
            float(r["total_quantity"]),
            float(r["total_revenue"]),
        )
        for r in cluster_summary(spark, SF_SMOKE).collect()
    }
    assert got_cs == want_cs
    assert any(v[1] == 0 for v in want_cs.values()) or len(want_cs) == len(
        per_product
    )

    # -- pricing_summary (Q1 shape) --
    cut = pd.Timestamp("2000-09-02")
    q = li[pd.to_datetime(li.l_shipdate) <= cut]
    want_ps = {}
    for (rf, ls), g in q.groupby(["l_returnflag", "l_linestatus"]):
        disc = g.l_extendedprice * (1.0 - g.l_discount)
        want_ps[(rf, ls)] = (
            float(g.l_quantity.sum()),
            money(g.l_extendedprice.sum(), 0),
            money(disc.sum(), 0),
            money((disc * (1.0 + g.l_tax)).sum(), 0, 6),
            ratio(g.l_quantity.mean(), 4),
            ratio(g.l_extendedprice.mean(), 2),
            ratio(g.l_discount.mean()),
            len(g),
        )
    got_ps = {
        (r["return_flag"], r["line_status"]): (
            float(r["sum_qty"]),
            float(r["sum_base_price"]),
            float(r["sum_disc_price"]),
            float(r["sum_charge"]),
            float(r["avg_qty"]),
            float(r["avg_price"]),
            float(r["avg_disc"]),
            int(r["count_order"]),
        )
        for r in pricing_summary(spark, SF_SMOKE).collect()
    }
    assert got_ps == want_ps


def test_product_features_match_independent_pandas(spark):
    """THIRD-PATH check for the clustering feature matrix (headline
    ``product_features`` — the densest feature algebra in the repo,
    F1-F8 incl. the deliberately non-standard revenue_growth and
    FINAL_DATE semantics): rebuild the priced fact AND all eight
    features from the raw parquet with plain pandas/python — the
    deterministic cost curve, quarter intervals, 365-day window,
    per-order two-level aggregation, and every rounding rule
    re-derived from the documented formulas, no shared code."""

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.warehouse import product_features

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet")

    def snap(x, out=6):
        return round(x + 1e-9, out)

    money = money_snap

    fact = li.merge(
        orders[["o_orderkey", "o_orderdate", "o_custkey"]],
        left_on="l_orderkey",
        right_on="o_orderkey",
    )
    fact["LineTotal"] = fact.l_extendedprice * (1.0 - fact.l_discount)
    fact["OrderDate"] = pd.to_datetime(fact.o_orderdate)

    # quarter intervals + deterministic cost curve
    qstarts = sorted(fact.OrderDate.dt.to_period("Q").dt.start_time.unique())
    interval_id = {q: i + 1 for i, q in enumerate(qstarts)}
    retail = dict(zip(part.p_partkey, part.p_retailprice))
    fact["__iid"] = fact.OrderDate.dt.to_period("Q").dt.start_time.map(interval_id)
    fact["__cost"] = [
        retail[p] * (0.45 + 0.03 * ((i + p) % 7))
        for p, i in zip(fact.l_partkey, fact["__iid"])
    ]
    fact["profit"] = fact.LineTotal - fact["__cost"] * fact.l_quantity

    final_date = fact.OrderDate.max() + pd.Timedelta(days=1)
    window_lo = final_date - pd.Timedelta(days=365)

    per_order = fact.groupby(["l_partkey", "l_orderkey"]).agg(
        OrderDate=("OrderDate", "min"),
        CustomerID=("o_custkey", "min"),
        o_qty=("l_quantity", "sum"),
        o_line=("LineTotal", "sum"),
        o_profit=("profit", "sum"),
    )
    want = {}
    for pid, g in per_order.groupby(level=0):
        inw = g[g.OrderDate >= window_lo]
        freq = len(inw)
        if freq == 0:
            continue
        dur = (final_date.normalize() - g.OrderDate.min().normalize()).days
        nuniq = inw.CustomerID.nunique()
        want[int(pid)] = (
            money(inw.o_profit.sum()),
            snap(inw.o_profit.sum() / inw.o_line.sum()),
            snap(inw.o_line.sum() / inw.o_qty.sum(), 4),
            snap(inw.o_qty.sum() / freq),
            int(nuniq),
            snap(freq / nuniq),
            snap(inw.o_line.sum() * dur / (g.o_line.sum() * 365)),
            dur,
        )

    got = {
        int(r["product_id"]): (
            float(r["profit"]),
            float(r["profit_margin"]),
            float(r["average_unit_price"]),
            float(r["avg_quantity_sold"]),
            int(r["nunique_customer"]),
            float(r["customer_loyalty"]),
            float(r["revenue_growth"]),
            int(r["selling_duration"]),
        )
        for r in product_features(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    mismatches = {p: (got[p], want[p]) for p in got if got[p] != want[p]}
    assert not mismatches, dict(list(mismatches.items())[:3])


def test_events_aggregations_match_independent_pandas(spark):
    """THIRD-PATH check for the events family's two core shapes:
    tumbling hourly counts/sums (headline) and 30-minute-gap
    sessionization, recomputed from the raw parquet with pandas
    groupby/sort loops — no Spark window functions, no DuckDB. Pins
    the hour-truncation alignment, the gap rule (strictly > 30 min
    starts a new session), the (ts, event_id) tie-break, and the
    2-dp nudge rounding."""
    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.events import (
        events_sessions,
        events_tumbling_hourly,
    )

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")[
        ["event_id", "user_id", "ts", "event_type", "value"]
    ]

    def r2(x):
        return round(x + 1e-9, 2)

    # -- tumbling hourly --
    hourly = {}
    for r in ev.itertuples():
        key = (r.ts.floor("h"), r.event_type)
        n, s = hourly.get(key, (0, 0.0))
        hourly[key] = (n + 1, s + r.value)
    want_hourly = {(k[0], k[1]): (n, r2(s)) for k, (n, s) in hourly.items()}
    got_hourly = {
        (pd.Timestamp(r["window_start"]), r["event_type"]): (
            int(r["n_events"]),
            float(r["sum_value"]),
        )
        for r in events_tumbling_hourly(spark, SF_SMOKE).collect()
    }
    assert got_hourly == want_hourly

    # -- gap sessionization --
    want_sessions = {}
    for uid, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        seq, prev = 0, None
        cur = None  # (start, end, n, sum)
        for r in g.itertuples():
            if prev is None or (r.ts - prev) > pd.Timedelta(minutes=30):
                if cur:
                    want_sessions[(int(uid), seq)] = cur
                seq += 1
                cur = (r.ts, r.ts, 1, r.value)
            else:
                cur = (cur[0], r.ts, cur[2] + 1, cur[3] + r.value)
            prev = r.ts
        if cur:
            want_sessions[(int(uid), seq)] = cur
    want_sessions = {
        k: (st, int((en - st).total_seconds()), n, r2(s))
        for k, (st, en, n, s) in want_sessions.items()
    }
    got_sessions = {
        (int(r["user_id"]), int(r["session_seq"])): (
            pd.Timestamp(r["session_start"]),
            int(r["duration_sec"]),
            int(r["n_events"]),
            float(r["sum_value"]),
        )
        for r in events_sessions(spark, SF_SMOKE).collect()
    }
    assert got_sessions == want_sessions
    assert any(n > 1 for _, _, n, _ in want_sessions.values())


def test_ann_cosine_topk_matches_numpy(spark):
    """THIRD-PATH check for the exact ANN baseline (headline
    ``ann_cosine_topk``): recompute cosine top-10 per probe with numpy
    from the raw parquet — float64 dot products, the documented 6-dp
    snap, (cosine DESC, vec_id) tie-break — sharing no code with the
    Spark GEMM path or the DuckDB list_cosine_similarity oracle. The
    recall audits measure the approximate variants AGAINST this
    baseline, so the baseline itself deserves an engine-independent
    pin."""
    import numpy as np
    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.similarity import (
        N_QUERIES,
        TOP_K,
        ann_cosine_topk,
    )

    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")[
        ["vec_id", "embedding"]
    ]
    M = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    norms = np.linalg.norm(M, axis=1)

    def snap(x):
        return round(x + 1e-9, 6)

    want = {}
    for qpos in np.flatnonzero(ids < N_QUERIES):
        qid = int(ids[qpos])
        cos = (M @ M[qpos]) / (norms * norms[qpos])
        scored = sorted(
            (
                (-snap(float(c)), int(v))
                for c, v in zip(cos, ids)
                if int(v) != qid
            ),
        )[:TOP_K]
        for rk, (negc, v) in enumerate(scored, 1):
            want[(qid, v)] = (-negc, rk)

    got = {
        (int(r["query_id"]), int(r["vec_id"])): (float(r["cosine"]), int(r["rank"]))
        for r in ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert len(got) == N_QUERIES * TOP_K


def test_dedup_jaccard_pairs_match_independent_python(spark):
    """THIRD-PATH check for the exact near-dup pair family: recompute
    every bigram-Jaccard pair ≥ 0.8 with plain python set algebra over
    the raw parquet and require BOTH registered pair queries — the
    exact relational formulation AND the MinHash-LSH candidate path
    (which verifies candidates with the true Jaccard, so it shares the
    exact oracle) — to equal it exactly. Catches any mirrored
    misconception in the shingle relation both engines share AND any
    LSH false negative on this corpus."""
    import re

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "text"]]

    def snap(x):
        return round(x + 1e-9, 6)

    bi = {}
    for r in docs.itertuples():
        t = [w for w in re.split(r"\s+", r.text.strip()) if w]
        s = {" ".join(t[i : i + 2]) for i in range(len(t) - 1)}
        if s:
            bi[int(r.doc_id)] = s
    ids = sorted(bi)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(bi[a] & bi[b])
            if inter:
                j = snap(inter / (len(bi[a]) + len(bi[b]) - inter))
                if j >= 0.8:
                    want[(a, b)] = j

    for q in (dedup_ngram_jaccard, dedup_minhash_lsh):
        got = {
            (
                min(int(r["doc_a"]), int(r["doc_b"])),
                max(int(r["doc_a"]), int(r["doc_b"])),
            ): float(r["jaccard"])
            for r in q(spark, SF_SMOKE).collect()
        }
        assert got == want, q.__name__
    assert want  # near-dups exist at this SF


def test_corpus_fingerprint_matches_hashlib(spark):
    """THIRD-PATH check for the reproducibility-receipt primitive
    (plans/pipeline/manifest.py::corpus_fingerprint): recompute the
    (n_docs, Σ int(md5(doc_id)[:12], 16), Σ n_tokens) triple from the
    collected training corpus with python hashlib and integer sums —
    the manifest audit, the batch-plan fingerprints, and the gated
    ingest checks all trust this primitive, so its md5/substr/conv
    chain must BE the md5 prefix sum it claims, on both the Spark
    expression and the independent arithmetic."""
    import hashlib

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import corpus_fingerprint
    from data_warehouse_product_mix_clustering_spark.plans.text import training_corpus

    corpus = training_corpus(spark, SF_SMOKE)
    got = corpus_fingerprint(corpus)

    rows = corpus.select("doc_id", "n_tokens").collect()
    want = (
        len(rows),
        sum(
            int(hashlib.md5(str(int(r["doc_id"])).encode()).hexdigest()[:12], 16)
            for r in rows
        ),
        sum(int(r["n_tokens"]) for r in rows),
    )
    assert got == want
    assert got[0] > 0


def test_doc_quality_matches_independent_python(spark):
    """THIRD-PATH check for the quality gate's backbone scalar
    (functions/text.py::quality_score, surfaced by ``doc_quality``):
    recompute per-doc stopword ratio, quality score, and bucket from
    the raw parquet with plain python (re.split tokens, list count
    against the literal en stopword list, the documented
    0.5·ratio + 0.5·saturation formula, 6-dp snap) — no shared code
    with either engine path. The gate feeds training_corpus, the
    curriculum, the classifier labels, and the gated compositions, so
    a mirrored misconception here would propagate everywhere."""
    import re

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.text import doc_quality

    EN = ["the", "a", "and", "of", "to", "is", "in", "on", "for", "with"]

    def snap(x):
        return round(x + 1e-9, 6)

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "text"]]
    want = {}
    for r in docs.itertuples():
        t = [w for w in re.split(r"\s+", r.text.strip()) if w]
        n = len(t)
        if n == 0:
            continue  # the gate's empty-doc contract is pinned elsewhere
        hits = sum(1 for w in t if w in EN)
        qs = snap(0.5 * (hits / n) + 0.5 * (min(n, 50) / 50.0))
        bucket = "high" if qs >= 0.6 else "medium" if qs >= 0.45 else "low"
        want[int(r.doc_id)] = (n, snap(hits / n), qs, bucket)

    got = {
        int(r["doc_id"]): (
            int(r["n_tokens"]),
            float(r["stopword_ratio"]),
            float(r["quality_score"]),
            r["quality_bucket"],
        )
        for r in doc_quality(spark, SF_SMOKE).collect()
        if r["n_tokens"] > 0
    }
    assert got == want
    assert len(set(b for _, _, _, b in want.values())) >= 2  # buckets bite


def test_budgeted_corpus_draw_matches_hashlib(spark):
    """THIRD-PATH check for the md5 hex-fraction draw — the RNG-free
    selection primitive every resample/budget query rides
    (plans/sql_api.py::_hex_fraction_sql): recompute
    ``training_corpus_budgeted``'s survivor set from the raw parquet
    with python's hashlib (first 6 hex digits as a base-16 integer,
    +0.5, /16^6) against the registered allocation rates. Exact set
    equality proves the engine-side polynomial-from-instr evaluation
    IS the md5 fraction it claims to be, independent of both engines'
    md5/arithmetic dialects."""
    import hashlib

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        source_budget_allocation,
        training_corpus_budgeted,
    )

    rates = {
        r["source"]: float(r["keep_rate"])
        for r in source_budget_allocation(spark, SF_SMOKE).collect()
    }
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[["doc_id", "source"]]

    def frac(doc_id):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:6]
        return (int(h, 16) + 0.5) / 16**6

    want = {
        int(r.doc_id)
        for r in docs.itertuples()
        if frac(int(r.doc_id)) < rates[r.source]
    }
    got = {
        int(r["doc_id"])
        for r in training_corpus_budgeted(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert 0 < len(got) < len(docs)  # the budget thins but keeps most


def test_training_corpus_decontaminated_fuzzy_matches_duckdb_twin(spark):
    """plans/pipeline/contamination.py::training_corpus_decontaminated_fuzzy
    (pre-staged r15) ≡ its adjacent DuckDB oracle at sf0.001, and the
    closure reconciles: base decontaminated corpus minus the fuzzy
    screen's flagged doc_ids."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _decontaminated_fuzzy_oracle,
        benchmark_contamination_fuzzy,
        training_corpus_decontaminated,
        training_corpus_decontaminated_fuzzy,
    )

    got = training_corpus_decontaminated_fuzzy(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_decontaminated_fuzzy_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    base = set(
        r["doc_id"]
        for r in training_corpus_decontaminated(spark, SF_SMOKE).collect()
    )
    flagged = set(
        r["doc_id"]
        for r in benchmark_contamination_fuzzy(spark, SF_SMOKE).collect()
    )
    assert set(got["doc_id"]) == base - flagged


def test_topic_balanced_corpus_audit_contract(spark):
    """plans/pipeline/observability.py::topic_balanced_corpus_audit (pre-staged r15) —
    the registration dry run: all five contract booleans TRUE at
    sf0.001 (subset/distinct, per-cluster cap binds exactly, hash-rank
    prefixes, rerun identity through a fresh k-means fit, assignment
    consistency with embedding_clusters)."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import topic_balanced_corpus_audit

    row = topic_balanced_corpus_audit(spark, SF_SMOKE).collect()[0]
    assert all(row.asDict().values()), row.asDict()


def test_vocab_growth_matches_duckdb_twin(spark):
    """plans/pipeline/observability.py::vocab_growth (pre-staged r15) ≡ its adjacent
    DuckDB oracle at sf0.001, plus the accounting identities: the final
    cumulative vocab equals the corpus's distinct word count, deciles
    are exactly 1..10, and Σ new_word_occurrences equals the corpus's
    total token count (every occurrence charged to its word's first
    decile, none lost)."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        VOCAB_DECILES,
        _vocab_growth_oracle,
        vocab_growth,
    )

    got = vocab_growth(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_vocab_growth_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    truth = con.sql(
        """
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(regexp_replace(
                regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                '\\s+', ' ', 'g')), ' ')) AS word
            FROM documents
        )
        SELECT count(DISTINCT word), count(*) FROM toks
        """
    ).fetchone()
    assert sorted(got["decile"]) == list(range(1, VOCAB_DECILES + 1))
    assert int(got["vocab_size"].max()) == truth[0]
    assert int(got["new_word_occurrences"].sum()) == truth[1]


def test_source_vocab_overlap_matches_duckdb_twin(spark):
    """plans/pipeline/observability.py::source_vocab_overlap (pre-staged r15) ≡ its
    adjacent DuckDB oracle at sf0.001; exactly C(|sources|, 2) unordered
    pairs, intersections bounded by both vocabularies, Jaccard in
    (0, 1]."""
    import duckdb

    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        _source_vocab_overlap_oracle,
        source_vocab_overlap,
    )

    got = source_vocab_overlap(spark, SF_SMOKE).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    want = con.sql(_source_vocab_overlap_oracle()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == w.shape
    assert (g.astype(str).values == w.astype(str).values).all()

    n_sources = con.sql(
        "SELECT count(DISTINCT source) FROM documents"
    ).fetchone()[0]
    assert len(got) == n_sources * (n_sources - 1) // 2
    assert (got["n_shared"] <= got[["vocab_a", "vocab_b"]].min(axis=1)).all()
    assert (got["vocab_jaccard"] > 0).all()
    assert (got["vocab_jaccard"] <= 1.0).all()


def test_asof_price_intervals_matches_pandas_merge_asof(spark):
    """THIRD-PATH check for the as-of join family (VERDICT r15 #7 — the
    one headline family whose engine-independent check was property-based
    vs merge_asof on synthetic frames but not yet recomputed from RAW
    parquet): rebuild ``asof_price_intervals`` end-to-end with pandas —
    lineitem⋈orders merge, quarter-start calendar with next-start−1day
    ends (NULL = open), ``pd.merge_asof`` backward + the reference's
    interval post-filter (src/pipelines/etl.py:27-42 shape), pandas
    groupbys, the documented money snap. No star-schema code, no
    operators/asof_join.py, no DuckDB — a mirrored misconception in the
    engine's interval semantics cannot survive this."""

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.warehouse import asof_price_intervals

    money = money_snap

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")[
        ["l_orderkey", "l_partkey", "l_extendedprice", "l_discount"]
    ]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")[
        ["o_orderkey", "o_orderdate"]
    ]
    fact = li.merge(
        orders, left_on="l_orderkey", right_on="o_orderkey", how="inner"
    ).assign(
        OrderDate=lambda d: pd.to_datetime(d.o_orderdate).astype(
            "datetime64[ns]"  # parquet dates read as µs; merge_asof needs one unit
        ),
        LineTotal=lambda d: d.l_extendedprice * (1.0 - d.l_discount),
    )

    # Quarter calendar exactly as dim_date documents: distinct observed
    # quarter starts; EndDate = next start − 1 day, NaT for the open last.
    starts = (
        fact.OrderDate.dt.to_period("Q").dt.start_time.drop_duplicates()
        .sort_values()
        .reset_index(drop=True)
    )
    dims = pd.DataFrame(
        {
            "StartDate": starts,
            "EndDate": starts.shift(-1) - pd.Timedelta(days=1),
            "IntervalId": range(1, len(starts) + 1),
        }
    )

    joined = pd.merge_asof(
        fact.sort_values("OrderDate"),
        dims.sort_values("StartDate"),
        left_on="OrderDate",
        right_on="StartDate",
        direction="backward",
    )
    # Mirror the reference's containment filter exactly (src/pipelines/
    # etl.py:39-42): StartDate <= OrderDate <= EndDate. The >= StartDate
    # term is vacuous BY CONSTRUCTION here (interval starts derive from
    # observed order dates, so backward merge_asof always finds one),
    # but stating it keeps this pin a literal transcription, not a
    # simplification someone must re-derive (ADVICE r16).
    joined = joined[
        (joined.OrderDate >= joined.StartDate)
        & (joined.EndDate.isna() | (joined.OrderDate <= joined.EndDate))
    ]
    grp = joined.groupby("IntervalId")
    want = {
        int(iid): (
            int(g.shape[0]),
            int(g.l_partkey.nunique()),
            money(g.LineTotal.sum()),
        )
        for iid, g in grp
    }

    got = {
        int(r["interval_id"]): (
            int(r["n_lines"]),
            int(r["n_products"]),
            float(r["revenue"]),
        )
        for r in asof_price_intervals(spark, SF_SMOKE).collect()
    }
    assert got == want
    # The pin has teeth: multiple intervals, every fact row lands in one.
    assert len(want) >= 2
    assert sum(n for n, _, _ in want.values()) == len(fact)


def test_dsir_compaction_audit_contract(spark):
    """plans/pipeline/dsir.py::dsir_compaction_audit (r17) — all five
    contract booleans TRUE at sf0.001: the delta-log fold preserves the
    models exactly, leaves one ≤4096-row partition, turns folded-batch
    replays into no-ops, keeps maintenance exact across the compaction
    boundary, and is idempotent."""
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import dsir_compaction_audit

    row = dsir_compaction_audit(spark, SF_SMOKE).collect()[0]
    assert all(row.asDict().values()), row.asDict()


def test_dsir_compact_store_marker_and_counts(spark, tmp_path):
    """operators/dsir.py::compact_dsir_store — the operational receipt:
    partitions_before reflects the log, rows_after ≤ 16^DSIR_HEX, the
    generation marker advances, a crash orphan (a stale next-gen
    directory from a failed prior attempt) is overwritten cleanly, the
    PREVIOUS generation is retained for in-flight lazy readers, and the
    sweep clears everything older plus marker temp litter."""
    import os

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.dsir import (
        DSIR_HEX,
        _deltas_dir,
        _read_gen,
        compact_dsir_store,
        ingest_dsir_batch,
        read_dsir_models,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    tgt = docs.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    store = str(tmp_path / "store")
    os.makedirs(store)
    for b in range(2):
        assert ingest_dsir_batch(
            store, b, docs.filter(F.col("doc_id") % 2 == b), tgt
        )

    # plant a crash orphan where generation 1 will land, plus marker
    # temp litter from a hypothetical crashed flip
    orphan = _deltas_dir(store, 1)
    os.makedirs(os.path.join(orphan, "__batch_id=99"))
    litter = os.path.join(store, "._gen_tmp_crashed")
    open(litter, "w").close()

    def _models(store_dir):
        rawm, tgtm = read_dsir_models(spark, store_dir)
        return (
            {r["bucket"]: r["cr"] for r in rawm.collect()},
            {r["bucket"]: r["ct"] for r in tgtm.collect()},
        )

    before = _models(store)
    # A lazy reader planned BEFORE the compaction must still execute
    # after it (plan-time marker resolution vs action-time file reads).
    rawm_inflight, _ = read_dsir_models(spark, store)
    res = compact_dsir_store(spark, store)
    assert res == {
        "gen": 1,
        "compacted_through": 1,
        "partitions_before": 2,
        "rows_after": res["rows_after"],
        "noop": False,
    }
    assert 0 < res["rows_after"] <= 16**DSIR_HEX
    assert _read_gen(store) == (1, 1)
    assert not os.path.exists(litter)
    # retention: the superseded generation survives one compaction...
    assert os.path.exists(_deltas_dir(store, 0))
    assert {r["bucket"]: r["cr"] for r in rawm_inflight.collect()} == before[0]
    assert _models(store) == before

    # ...and anything older than current−1 is swept by the next call
    # (here a no-op fold), along with unreferenced future-gen orphans.
    os.makedirs(os.path.join(_deltas_dir(store, 5), "__batch_id=9"))
    res2 = compact_dsir_store(spark, store)
    assert res2["noop"] is True
    assert os.path.exists(_deltas_dir(store, 0))  # still the previous gen
    assert not os.path.exists(_deltas_dir(store, 5))
    assert _models(store) == before

    # A folded-id replay is skipped WITH a warning (the id-restart
    # tripwire), and reports the skip in its return value.
    import warnings as _warnings

    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        wrote = ingest_dsir_batch(
            store, 0, docs.filter(F.col("doc_id") % 2 == 0), tgt
        )
    assert wrote is False
    assert any("compacted_through" in str(w.message) for w in rec)
    assert _models(store) == before


def test_dsir_fold_exact_under_random_splits_and_repeated_compaction(spark):
    """Property pin for the compaction fold: per-bucket integer sums are
    associative, so ANY batch partitioning of the corpus, compacted
    after EVERY ingest (the most aggressive cadence — four sequential
    generation advances), must still yield models identical to the
    single-batch build. Also pins the retention window arithmetic:
    after k compactions only the current and previous generation
    directories remain on disk."""
    import os
    import tempfile
    import shutil

    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.operators.dsir import (
        _deltas_dir,
        _read_gen,
        compact_dsir_store,
        dsir_models,
        feature_counts,
        ingest_dsir_batch,
        read_dsir_models,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    tgt = docs.select("doc_id").filter(F.col("doc_id") % 2 == 0)

    def _models(rawm, tgtm):
        return (
            {r["bucket"]: r["cr"] for r in rawm.collect()},
            {r["bucket"]: r["ct"] for r in tgtm.collect()},
        )

    want = _models(*dsir_models(feature_counts(docs), tgt))

    for seed in (7, 23):
        store = tempfile.mkdtemp(prefix=f"spark_graft_dsir_prop_{seed}_")
        try:
            # seeded pseudo-random 4-way split (md5 of doc_id ++ seed)
            bucketed = docs.withColumn(
                "__b",
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.col("doc_id"), F.lit(seed))),
                        1,
                        4,
                    ),
                    16,
                    10,
                ).cast("long")
                % 4,
            )
            n_gens = 0
            for b in range(4):
                batch = bucketed.filter(F.col("__b") == b).drop("__b")
                ingest_dsir_batch(store, b, batch, tgt)
                res = compact_dsir_store(spark, store)
                if not res["noop"]:
                    n_gens = res["gen"]
            got = _models(*read_dsir_models(spark, store))
            assert got == want, f"seed {seed}: fold diverged from batch"
            gen, _ = _read_gen(store)
            assert gen == n_gens >= 2
            present = {
                e
                for e in os.listdir(store)
                if e == "model_deltas" or e.startswith("model_deltas.g=")
            }
            # The sweep runs at compact START, so immediately after a
            # flip at most THREE generations exist: current (just
            # written), current−1 (retained for in-flight readers), and
            # current−2 (was retained by this compact's own sweep; the
            # NEXT compact removes it). Anything older must be gone.
            must = {
                os.path.basename(_deltas_dir(store, g)) for g in (gen, gen - 1)
            }
            allowed = must | {os.path.basename(_deltas_dir(store, gen - 2))}
            assert must <= present <= allowed, (present, must, allowed)
        finally:
            shutil.rmtree(store, ignore_errors=True)


def test_observability_family_matches_raw_parquet_python_fold(spark):
    """THIRD-PATH pin for the r17 observability registrations:
    ``vocab_growth`` (the Heaps-law decile table) and
    ``source_vocab_overlap`` (pairwise source-vocab Jaccard) recomputed
    from the RAW parquet with plain python dict/set folds — pyarrow
    reader, str.split() whitespace tokens, the exact-integer ntile twin,
    the 6-dp ratio twin; no Spark relational code, no DuckDB. Pins the
    first-occurrence trick (distinct-per-prefix ≡ running sum of
    first-occurrence counts), the nonempty-docs-only decile base, and
    the unordered-pair orientation."""
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.operators.packing import ntile_from_rank_py
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        source_vocab_overlap,
        vocab_growth,
    )
    from data_warehouse_product_mix_clustering_spark.plans.pipeline.observability import VOCAB_DECILES
    from data_warehouse_product_mix_clustering_spark.plans.similarity import ratio_round_py

    tbl = pq.read_table(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    rows = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("source").to_pylist(),
        )
    )

    # -- vocab_growth --
    toks = {d: t.strip().split() for d, t, _ in rows}
    first_doc: dict[str, int] = {}
    occurrences: dict[str, int] = {}
    for d in sorted(toks):
        for w in toks[d]:
            occurrences[w] = occurrences.get(w, 0) + 1
            if w not in first_doc or d < first_doc[w]:
                first_doc[w] = d
    nonempty = sorted(d for d, t in toks.items() if t)
    decile_of = {
        d: ntile_from_rank_py(i + 1, len(nonempty), VOCAB_DECILES)
        for i, d in enumerate(nonempty)
    }
    per = {q: [0, 0] for q in range(1, VOCAB_DECILES + 1)}
    for w, d in first_doc.items():
        q = decile_of[d]
        per[q][0] += 1
        per[q][1] += occurrences[w]
    want_vg, cum = {}, 0
    for q in range(1, VOCAB_DECILES + 1):
        cum += per[q][0]
        want_vg[q] = (per[q][0], per[q][1], cum)
    got_vg = {
        int(r["decile"]): (
            int(r["new_words"]),
            int(r["new_word_occurrences"]),
            int(r["vocab_size"]),
        )
        for r in vocab_growth(spark, SF_SMOKE).collect()
    }
    assert got_vg == want_vg
    assert sum(n for n, _, _ in want_vg.values()) == len(first_doc)

    # -- source_vocab_overlap --
    vocab: dict[str, set] = {}
    for d, t, s in rows:
        vocab.setdefault(s, set()).update(toks[d])
    srcs = sorted(vocab)
    want_ov = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            inter = len(vocab[a] & vocab[b])
            if inter == 0:
                continue  # the oracle's inner join drops empty pairs
            union = len(vocab[a]) + len(vocab[b]) - inter
            want_ov[(a, b)] = (
                len(vocab[a]),
                len(vocab[b]),
                inter,
                ratio_round_py(inter / union),
            )
    got_ov = {
        (r["source_a"], r["source_b"]): (
            int(r["vocab_a"]),
            int(r["vocab_b"]),
            int(r["n_shared"]),
            float(r["vocab_jaccard"]),
        )
        for r in source_vocab_overlap(spark, SF_SMOKE).collect()
    }
    assert got_ov == want_ov
    assert want_ov, "no overlapping source pairs — data no longer exercises this"


def test_equidepth_batching_matches_raw_parquet_python_fold(spark):
    """THIRD-PATH pin for the equi-depth batching pair (r17):
    ``doc_length_equidepth_batches`` and its per-bucket rollup
    ``equidepth_padding_efficiency`` recomputed from raw parquet with a
    plain python sort + the integer ntile twin — pins the total
    (n_tokens, doc_id) order, the per-bucket pad-to-own-max rule, the
    in-bucket batch cut, and the fill-ratio arithmetic independently of
    both engines."""
    import pyarrow.parquet as pq

    from data_warehouse_product_mix_clustering_spark.operators.packing import ntile_from_rank_py
    from data_warehouse_product_mix_clustering_spark.plans.pipeline import (
        doc_length_equidepth_batches,
        equidepth_padding_efficiency,
    )
    from data_warehouse_product_mix_clustering_spark.plans.pipeline.packing import (
        _BATCH_SIZE,
        EQUIDEPTH_K,
    )
    from data_warehouse_product_mix_clustering_spark.plans.similarity import ratio_round_py

    tbl = pq.read_table(
        f"{SF_SMOKE}/documents.parquet", columns=["doc_id", "text"]
    )
    sized = sorted(
        (len(t.strip().split()), d)
        for d, t in zip(
            tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
        )
    )
    n = len(sized)
    plan = {}
    start_rk: dict[int, int] = {}
    pad: dict[int, int] = {}
    for i, (ntok, d) in enumerate(sized):
        rk = i + 1
        b = ntile_from_rank_py(rk, n, EQUIDEPTH_K)
        start_rk.setdefault(b, rk)
        pad[b] = max(pad.get(b, 0), ntok)
        plan[d] = (ntok, b, rk)
    want = {
        d: (ntok, b, pad[b], (rk - start_rk[b]) // _BATCH_SIZE)
        for d, (ntok, b, rk) in plan.items()
    }
    got = {
        int(r["doc_id"]): (
            int(r["n_tokens"]),
            int(r["bucket_id"]),
            int(r["pad_len"]),
            int(r["batch_id"]),
        )
        for r in doc_length_equidepth_batches(spark, SF_SMOKE).collect()
    }
    assert got == want

    # rollup: per (bucket, pad_len) batch/doc/token/padding accounting
    roll: dict[tuple, list] = {}
    for d, (ntok, b, pl, bid) in want.items():
        acc = roll.setdefault((b, pl), [set(), 0, 0])
        acc[0].add(bid)
        acc[1] += 1
        acc[2] += ntok
    want_eff = {
        k: (
            len(bids),
            ndocs,
            real,
            ndocs * k[1],
            ratio_round_py(real / (ndocs * k[1])),
        )
        for k, (bids, ndocs, real) in roll.items()
    }
    got_eff = {
        (int(r["bucket_id"]), int(r["pad_len"])): (
            int(r["n_batches"]),
            int(r["n_docs"]),
            int(r["real_tokens"]),
            int(r["padded_tokens"]),
            float(r["fill_ratio"]),
        )
        for r in equidepth_padding_efficiency(spark, SF_SMOKE).collect()
    }
    assert got_eff == want_eff
    assert len(want_eff) >= 2


def test_dsir_ingest_survives_concurrent_out_of_band_compaction(
    spark, tmp_path, monkeypatch
):
    """ADVICE r17 #1 guard: an out-of-band compact_dsir_store flipping
    the generation marker between ingest_dsir_batch's entry and its
    delta write used to strand the delta in the superseded directory
    (silently lost at the next sweep). The guard re-reads the marker
    after the write and re-writes the delta into the new generation.
    Simulated physically: the post-write marker read finds a store a
    concurrent compactor flipped to gen 1 having folded ONLY batch 0
    (it read the log before batch 1's delta landed), so batch 1's
    delta sits stranded in gen 0 — the retry must land it in gen 1 and
    the maintained models must equal the batch-built ones exactly."""
    import json
    import os
    import shutil

    import data_warehouse_product_mix_clustering_spark.operators.dsir as dsir

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    tgt = docs.select("doc_id").filter(F.col("doc_id") % 2 == 0)
    store = str(tmp_path / "store")
    os.makedirs(store)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    assert dsir.ingest_dsir_batch(store, 0, b0, tgt)

    real = dsir._read_gen
    state = {"calls": 0}

    def racing_read_gen(store_dir):
        state["calls"] += 1
        if state["calls"] == 2:
            # batch 1's POST-write check: emulate the out-of-band
            # compactor having read the log BEFORE that write — fold
            # exactly batch 0 into gen 1 and flip the marker
            g1 = dsir._deltas_dir(store_dir, 1)
            shutil.copytree(
                os.path.join(dsir._deltas_dir(store_dir, 0), "__batch_id=0"),
                os.path.join(g1, "__batch_id=0"),
            )
            with open(
                os.path.join(store_dir, dsir._GEN_MARKER), "w",
                encoding="utf-8",
            ) as f:
                json.dump({"gen": 1, "compacted_through": 0}, f)
        return real(store_dir)

    monkeypatch.setattr(dsir, "_read_gen", racing_read_gen)
    assert dsir.ingest_dsir_batch(store, 1, b1, tgt)  # entry=call 1
    monkeypatch.setattr(dsir, "_read_gen", real)

    assert state["calls"] >= 3  # entry, raced post-write, retry post-write
    # the retry landed batch 1 in the CURRENT generation, not gen 0
    assert os.path.exists(
        os.path.join(dsir._deltas_dir(store, 1), "__batch_id=1")
    )
    rawm, tgtm = dsir.read_dsir_models(spark, store)
    want_raw, want_tgt = dsir.dsir_models(dsir.feature_counts(docs), tgt)
    assert {r["bucket"]: r["cr"] for r in rawm.collect()} == {
        r["bucket"]: r["cr"] for r in want_raw.collect()
    }
    assert {r["bucket"]: r["ct"] for r in tgtm.collect()} == {
        r["bucket"]: r["ct"] for r in want_tgt.collect()
    }


def test_doc_dsir_weight_matches_independent_python(spark):
    """THIRD-PATH check for the DSIR scoring family (VERDICT r17 brief
    #5): recompute ``doc_dsir_weight`` at smoke SF from the raw parquet
    with a pure-python hashed-ngram model — hashlib md5 3-hex-prefix
    buckets over whitespace unigrams + space-joined bigrams, dict
    counts, additive-smoothed log2 ratio over the fixed 4096-bucket
    space, 6-dp snaps at the documented points — sharing no code with
    the Spark plan or the DuckDB oracle. Pins every output column
    including the mean-rate cutoff's selection bit, doc by doc. The
    family's other checks (DuckDB twin, incremental/compaction property
    pins) share the engine pair; this is the engine-independent
    recomputation the other headline families already carry."""
    import hashlib
    import math
    import re

    import pandas as pd

    from data_warehouse_product_mix_clustering_spark.plans.pipeline.dsir import doc_dsir_weight

    EN = ["the", "a", "and", "of", "to", "is", "in", "on", "for", "with"]
    M, A = 16**3, 0.5

    def snap(x):
        return round(x + 1e-9, 6)

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "source", "lang", "text"]
    ]
    fc: dict[int, dict[str, int]] = {}
    target: set[int] = set()
    for r in docs.itertuples():
        t = [w for w in re.split(r"\s+", r.text.strip()) if w]
        feats = t + [" ".join(t[i : i + 2]) for i in range(len(t) - 1)]
        counts: dict[str, int] = {}
        for f in feats:
            b = hashlib.md5(f.encode()).hexdigest()[:3]
            counts[b] = counts.get(b, 0) + 1
        fc[int(r.doc_id)] = counts
        if t and r.lang == "en":
            hits = sum(1 for w in t if w in EN)
            q = snap(0.5 * (hits / len(t)) + 0.5 * (min(len(t), 50) / 50.0))
            if q >= 0.45:
                target.add(int(r.doc_id))

    rawm: dict[str, int] = {}
    tgtm: dict[str, int] = {}
    for did, counts in fc.items():
        for b, c in counts.items():
            rawm[b] = rawm.get(b, 0) + c
            if did in target:
                tgtm[b] = tgtm.get(b, 0) + c
    nr, nt = float(sum(rawm.values())), float(sum(tgtm.values()))
    llr = {
        b: math.log2((tgtm.get(b, 0) + A) / (nt + A * M))
        - math.log2((cr + A) / (nr + A * M))
        for b, cr in rawm.items()
    }

    want = {}
    rates = []
    for r in docs.itertuples():
        counts = fc[int(r.doc_id)]
        n = sum(counts.values())
        if n == 0:
            want[int(r.doc_id)] = (r.source, 0, 0.0, 0.0, None)
            continue
        s = sum(c * llr[b] for b, c in counts.items())
        rate = snap(s / n)
        want[int(r.doc_id)] = (r.source, n, snap(s), rate, None)
        rates.append(rate)
    mu = snap(sum(rates) / len(rates))
    want = {
        did: (src, n, lw, rate, (n > 0 and rate > mu))
        for did, (src, n, lw, rate, _) in want.items()
    }

    got = {
        int(r["doc_id"]): (
            r["source"],
            int(r["n_feats"]),
            float(r["dsir_logw"]),
            float(r["dsir_logw_rate"]),
            bool(r["dsir_selected"]),
        )
        for r in doc_dsir_weight(spark, SF_SMOKE).collect()
    }
    assert got == want
    assert any(sel for *_, sel in want.values())  # the cutoff bites
    assert not all(sel for *_, sel in want.values())


def test_wand_edge_cases_absent_terms_and_large_k(spark, tmp_path):
    """Exact-serve edge cases of search_postings_index: every query term
    absent from the corpus gives an empty result (no crash on empty
    df/postings reads); a mix of present and absent terms scores only
    the present ones, so it equals the present-only query; and a top_k
    above the match count returns every match."""
    from pyspark.sql import functions as F

    from data_warehouse_product_mix_clustering_spark.functions.text import tokens
    from data_warehouse_product_mix_clustering_spark.operators.postings import (
        build_postings_index,
        search_postings_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    build_postings_index(docs, idx, tokens(F.col("text")))

    def ranked(terms, **kw):
        return [
            (r.doc_id, r.bm25)
            for r in search_postings_index(spark, idx, terms, **kw).collect()
        ]

    assert ranked(("zzz", "qqq")) == []
    mixed = ranked(("beta", "zzz"))
    assert mixed == ranked(("beta",))
    assert [d for d, _ in mixed] == [1, 2]
    assert {d for d, _ in ranked(("beta", "gamma"), top_k=50)} == {1, 2, 3}
