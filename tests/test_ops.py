"""Unit tests for the training-data operators (dedup / ANN / text /
multimodal plumbing) and the classifier ladder."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fia_own_map_spark.operators import ann, dedup, multimodal, text
from fia_own_map_spark.operators.classify import classify_own_type, with_initial_class


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 0
        (2, "The  quick Brown fox jumps over the lazy dog", "en"),  # ws/case dup of 0
        (3, "the quick brown fox leaps over the lazy dog", "en"),   # near dup
        (4, "der hund ist nicht mit der katze und das haus", "de"),
        (5, "el perro y el gato en la casa de los arboles", "es"),
        (6, "completely different text about spark engines and shuffles", "en"),
        (7, "", "en"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert {3, 4, 5, 6, 7} <= set(kept)


def test_exact_dedup_null_text(spark):
    """NULL-text rows form one dedup group (GROUP BY semantics) instead of
    being dropped by a null-rejecting equi-join on the NULL md5 hash."""
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "same"), (1, None), (2, None), (3, "same")],
            columns=["doc_id", "text"],
        ).astype({"text": object})
    )
    kept = dedup.exact_dedup(df).toPandas()["doc_id"].tolist()
    assert sorted(kept) == [0, 1]


def test_minhash_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=16, n_bands=8, shingle_k=2, jaccard_threshold=0.4
    ).toPandas()
    got = {tuple(x) for x in pairs[["id_a", "id_b"]].itertuples(index=False)}
    assert (0, 1) in got and (0, 2) in got  # exact dups always survive
    assert (0, 3) in got                    # near dup: 1-word change
    assert not any((a, b) in got for a, b in [(0, 6), (0, 4), (4, 5)])


def test_simhash_near_dup(docs):
    pairs = dedup.simhash_dup_pairs(docs, max_hamming=6).toPandas()
    got = {tuple(x) for x in pairs[["id_a", "id_b"]].itertuples(index=False)}
    assert (0, 1) in got and (0, 2) in got
    assert (0, 6) not in got


def test_simhash_pigeonhole_full_recall(spark):
    """The block scheme must find EVERY pair within the Hamming radius
    (pigeonhole guarantee) — compared against brute-force exact Hamming over
    the same simhashes. The old single-prefix probing missed any pair whose
    differing bits fell in the top 16; this is the regression test for it."""
    import itertools
    import random

    from fia_own_map_spark.operators.dedup import _simhash64

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    base_texts = [" ".join(rng.choices(vocab, k=30)) for _ in range(40)]
    # mutated variants land at a spread of small-to-medium Hamming distances
    texts = list(base_texts)
    for t in base_texts[:20]:
        words = t.split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        texts.append(" ".join(words))
    rows = [(i, t) for i, t in enumerate(texts)]
    sh = {i: _simhash64(t.lower().split()) for i, t in rows}
    expect = set()
    for (ia, ha), (ib, hb) in itertools.combinations(sorted(sh.items()), 2):
        if bin((ha ^ hb) & 0xFFFFFFFFFFFFFFFF).count("1") <= 3:
            expect.add((ia, ib))
    assert expect, "fixture must produce at least one in-radius pair"
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got_df = dedup.simhash_dup_pairs(df, max_hamming=3).toPandas()
    got = {tuple(x) for x in got_df[["id_a", "id_b"]].itertuples(index=False)}
    assert got == expect
    # candidate growth is bounded: each doc appears in exactly 4 buckets
    assert got_df["hamming"].max() <= 3


def test_simhash_max_hamming_zero(docs):
    """max_hamming=0 => one 64-bit block; the full-width mask used to
    overflow Spark's signed long literal at plan time (ADVICE r3)."""
    pairs = dedup.simhash_dup_pairs(docs, max_hamming=0).toPandas()
    got = {tuple(x) for x in pairs[["id_a", "id_b"]].itertuples(index=False)}
    # 0/1 exact dup, 2 differs only by case/whitespace (tokens identical)
    assert got == {(0, 1), (0, 2), (1, 2)}
    assert (pairs["hamming"] == 0).all()


def test_flagship_plan_has_no_cluster_windows(spark):
    """Regression guard for the r4 scale lesson: the flagship's final plan
    must contain NO window operator — cluster-keyed windows single-task the
    transitive closure's giant head component (888s -> 104s at 800k pages
    when rewritten to groupBy+join). plan_audit.py checks this in PLANS.md;
    this pytest makes it a hard gate."""
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entry

    df = entry.queries()["er_cluster_documents"](spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(extended=False)
    plan = buf.getvalue()
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan


def test_skew_safe_aggs_match_window_reference(spark):
    """The r4 skew rewrites (cluster_size, refine_clusters_by_address,
    summarize totals: groupBy+join instead of cluster-keyed windows) must be
    ROW-IDENTICAL to the straightforward window formulations they replaced —
    including NULL addresses, which the window treats as one group."""
    import random

    from pyspark.sql import Window
    from fia_own_map_spark.operators.refine import (
        cluster_size,
        refine_clusters_by_address,
    )

    rng = random.Random(11)
    rows = []
    for i in range(400):
        cid = f"c{rng.randrange(40)}"
        addr = rng.choice([None, "", "1 main st", "2 oak av", "3 elm rd"])
        rows.append((f"u{i:03d}", cid, rng.choice([45, 41, 25]), addr))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "cluster_id", "own_type", "comb_addr"])
    )

    got_cs = cluster_size(df).toPandas().sort_values("url").reset_index(drop=True)
    w = Window.partitionBy("cluster_id")
    ref_cs = (
        df.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_cs[ref_cs.columns], ref_cs)

    got_rf = (
        refine_clusters_by_address(df).toPandas().sort_values("url").reset_index(drop=True)
    )
    w_ca = Window.partitionBy("cluster_id", "comb_addr")
    n_addr = F.size(F.collect_set("comb_addr").over(w))  # NULLs dropped, as r3
    ref_rf = (
        df.withColumn(
            "cluster_id",
            F.when(
                F.col("own_type").isin([45]) & (n_addr > 1),
                F.min("url").over(w_ca),
            ).otherwise(F.col("cluster_id")),
        )
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_rf[ref_rf.columns], ref_rf)


def test_simhash_batch_bit_identical():
    """The vectorized simhash path (padded-matrix FNV + reduceat sign-sum)
    must be BIT-IDENTICAL to the per-token reference `_simhash64` — that is
    what keeps `dedup_simhash_pairs` row counts stable across the r4
    vectorization."""
    import random

    from fia_own_map_spark.operators.dedup import (
        _fnv1a64_batch,
        _simhash64,
        _simhash64_batch,
        hash64,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)] + ["héllo", "naïve", "東京", "", "x" * 55, "Ω≈ç√"]
    docs = [[rng.choice(vocab) for _ in range(rng.randrange(0, 40))] for _ in range(300)]
    docs.append([])  # zero-token doc → fingerprint 0 on both paths
    expect = np.array([_simhash64(d) for d in docs], dtype=np.int64)
    got = _simhash64_batch(docs)
    assert (expect == got).all()
    assert [int(h) for h in _fnv1a64_batch(vocab)] == [hash64(t) for t in vocab]


def test_png_wavefront_unfilter_exact():
    """The anti-diagonal wavefront Average/Paeth unfilter must be bit-exact
    vs the per-byte reference rows (_paeth_row/_avg_row) for every bpp and
    for mixed 3/4 runs — the r4 replacement for the per-byte Python loop."""
    from fia_own_map_spark.operators.multimodal import (
        _avg_row,
        _paeth_row,
        _wavefront_unfilter,
    )

    rng = np.random.default_rng(3)
    for bpp in (1, 2, 3, 4, 6, 8):
        rows, px = 17, 23
        rowbytes = px * bpp
        filt = rng.integers(0, 256, (rows, rowbytes), dtype=np.uint8)
        kinds = rng.choice([3, 4], rows).astype(np.uint8)
        prev = rng.integers(0, 256, rowbytes).astype(np.int16)
        got = _wavefront_unfilter(filt, kinds, prev, bpp)
        exp = np.empty_like(got)
        p = prev.copy()
        for y in range(rows):
            fn = _paeth_row if kinds[y] == 4 else _avg_row
            exp[y] = fn(filt[y].astype(np.int16), p, bpp).astype(np.uint8)
            p = exp[y].astype(np.int16)
        assert (got == exp).all(), bpp


def test_jpeg_cmyk_raises():
    """4-component (Adobe CMYK/YCCK) JPEGs raise NotImplementedError at SOF
    parse instead of an opaque unpack error deep in reconstruction."""
    import struct as _struct

    from fia_own_map_spark.operators.jpeg import decode_jpeg

    sof = _struct.pack(">BHHB", 8, 16, 16, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    blob = b"\xff\xd8" + b"\xff\xc0" + _struct.pack(">H", 2 + len(sof)) + sof
    with pytest.raises(NotImplementedError, match="4-component"):
        decode_jpeg(blob)


def test_lang_id(docs):
    got = dict(
        docs.select("doc_id", text.lang_id("text").alias("l")).toPandas().values
    )
    assert got[0] == "en" and got[4] == "de" and got[5] == "es"
    assert got[7] == "und"


def test_quality_and_counts(docs):
    q = text.quality_features(docs).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 9
    assert q.loc[7, "n_tokens"] == 0 and q.loc[7, "quality_score"] == pytest.approx(0.3)
    assert 0 <= q["quality_score"].min() and q["quality_score"].max() <= 1


def test_ann_bruteforce_vs_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((60, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.cosine_topk(corpus, queries, k=5).toPandas()
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = np.argsort(-np.round(sims[q], 6), kind="stable")[:5]
        want = set(order.tolist())
        got_ids = set(got[got.query_id == q]["vec_id"].tolist())
        assert got_ids == want, (q, got_ids, want)


def test_ann_lsh_subset_of_bucket(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((80, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": [v.tolist() for v in vecs]})
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann.lsh_cosine_topk(corpus, queries, k=5, n_planes=4).toPandas()
    # self-match always lands in its own bucket at rank 1
    for q in range(2):
        sub = got[got.query_id == q]
        assert sub[sub["rank"] == 1]["vec_id"].iloc[0] == q


def test_ann_lsh_multiprobe_recall(spark):
    """Flip-1 multi-probe must recover strictly more of the brute-force
    top-k than single-probe on a spread query set, and never less per
    query (single-probe candidates are a subset of the probed set)."""
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((300, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = ann.cosine_topk(corpus, queries, k=5).toPandas()
    single = ann.lsh_cosine_topk(
        corpus, queries, k=5, n_planes=6, multiprobe=0
    ).toPandas()
    multi = ann.lsh_cosine_topk(
        corpus, queries, k=5, n_planes=6, multiprobe=1
    ).toPandas()

    def recall(approx):
        hits = total = 0
        for q, grp in truth.groupby("query_id"):
            want = set(grp["vec_id"])
            hits += len(want & set(approx[approx.query_id == q]["vec_id"]))
            total += len(want)
        return hits / total

    r0, r1 = recall(single), recall(multi)
    assert r1 > r0, (r0, r1)
    # bounded candidate growth: probes = n_planes + 1 buckets per query
    assert multi.groupby("query_id")["rank"].max().max() <= 5


def test_ann_lsh_probe_radius2(spark):
    """multiprobe=2 must generate the full flip-2 combination set (r3
    ADVICE: any radius >= 1 silently behaved as 1): 1 + C(n,1) + C(n,2)
    distinct probes, every probe within Hamming 2 of the query bucket."""
    n = 5
    df = spark.createDataFrame(pd.DataFrame({"b": ["10110"]}))
    probes = df.select(
        ann._probe_buckets(F.col("b"), n, 2).alias("p")
    ).collect()[0]["p"]
    assert len(probes) == 1 + n + n * (n - 1) // 2
    assert len(set(probes)) == len(probes)
    for p in probes:
        assert len(p) == n
        assert sum(a != b for a, b in zip(p, "10110")) <= 2


def test_ann_lsh_multitable_recall(spark):
    """OR-amplification: n_tables independent plane sets, candidate union,
    exact re-rank. Table 0 reuses the single-table seed, so single-table
    candidates are a subset — recall can only go up; dedup means no
    (query, vec) pair is scored twice (rank sequences stay dense)."""
    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((300, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [v.tolist() for v in vecs]})
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    truth = ann.cosine_topk(corpus, queries, k=5).toPandas()
    single = ann.lsh_cosine_topk(corpus, queries, k=5, n_planes=8, n_tables=1).toPandas()
    multi = ann.lsh_cosine_topk(corpus, queries, k=5, n_planes=8, n_tables=5).toPandas()

    def recall(approx):
        hits = total = 0
        for q, grp in truth.groupby("query_id"):
            want = set(grp["vec_id"])
            hits += len(want & set(approx[approx.query_id == q]["vec_id"]))
            total += len(want)
        return hits / total

    r1, rl = recall(single), recall(multi)
    assert rl > r1, (r1, rl)
    # no double-scoring: ranks are dense 1..n per query
    for _, grp in multi.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
    # candidate union really is a superset of table 0's candidates
    c1 = ann.lsh_candidates(corpus, queries, n_planes=8, n_tables=1, dim=8)
    cm = ann.lsh_candidates(corpus, queries, n_planes=8, n_tables=5, dim=8)
    s1 = {(r["query_id"], r["vec_id"]) for r in c1.collect()}
    sm = {(r["query_id"], r["vec_id"]) for r in cm.collect()}
    assert s1 <= sm and len(sm) > len(s1)


def test_multimodal_plumbing(spark):
    blobs = [
        ("m1", multimodal.make_fake_image("m1", 4, 4, seed=1)),
        ("m2", multimodal.make_fake_image("m2", 8, 2, seed=2)),
    ]
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"]))
    out = multimodal.decode_and_featurize(df, fake=True).toPandas().set_index("media_id")
    assert out.loc["m1", "width"] == 4 and out.loc["m2", "height"] == 2
    assert len(out.loc["m1", "features"]) == 4
    # auto codec dispatch: a real PNG through the same Spark plumbing
    import numpy as np

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    png_df = spark.createDataFrame(
        pd.DataFrame([("g1", multimodal.encode_png(img))], columns=["media_id", "blob"])
    )
    got = multimodal.decode_and_featurize(png_df).toPandas().iloc[0]
    assert got["width"] == 4 and got["height"] == 4
    assert abs(got["features"][0] - img.mean()) < 1e-9
    # unrecognized bitstreams must raise, not silently fake-decode
    bad = [("p1", b"\x00\x01\x02\x03" + b"\x00" * 16)]
    pdf = spark.createDataFrame(pd.DataFrame(bad, columns=["media_id", "blob"]))
    with pytest.raises(Exception, match="ValueError|unrecognized"):
        multimodal.decode_and_featurize(pdf).collect()


def test_multimodal_bmp_real_codec(spark):
    """BMP is the real decode path: decode -> featurize and decode -> resize
    -> re-encode roundtrip through Spark binary columns."""
    import numpy as np

    rng = np.random.default_rng(7)
    img1 = rng.integers(0, 256, size=(6, 10, 3), dtype=np.uint8)
    img2 = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    blobs = [("b1", multimodal.encode_bmp(img1)), ("b2", multimodal.encode_bmp(img2))]
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"]))
    out = multimodal.decode_and_featurize(df).toPandas().set_index("media_id")
    assert out.loc["b1", "width"] == 10 and out.loc["b1", "height"] == 6
    assert abs(out.loc["b2", "features"][0] - float(img2.mean())) < 1e-9
    resized = multimodal.resize_images(df, 4, 4).toPandas().set_index("media_id")
    back = multimodal.decode_bmp(bytes(resized.loc["b2", "blob"]))
    assert back.shape == (4, 4, 3)
    assert (back == multimodal.resize_nearest(img2, 4, 4)).all()


def test_png_codec_roundtrip():
    """decode_png inverts encode_png exactly for every channel count and
    every scanline filter type (covers all five unfilter branches)."""
    import numpy as np

    rng = np.random.default_rng(11)
    for c in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 17, c), dtype=np.uint8)
        for ft in range(5):
            out = multimodal.decode_png(multimodal.encode_png(img, filter_type=ft))
            assert out.shape == img.shape and (out == img).all(), (c, ft)
    # gradient exercises Sub/Average/Paeth predictions non-trivially
    g = (np.arange(40)[:, None] + np.arange(60)[None, :]).astype(np.uint8)
    g = g[:, :, None].repeat(3, axis=2)
    for ft in range(5):
        assert (multimodal.decode_png(multimodal.encode_png(g, filter_type=ft)) == g).all()


def test_png_palette_and_subbyte():
    """Handcrafted palette (color type 3) and 1-bit grayscale PNGs decode to
    the expected pixels (PLTE indexing, tRNS alpha, bit unpacking)."""
    import struct
    import zlib

    import numpy as np

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    # 2x2 palette image: indices [[0,1],[2,0]], 8-bit depth
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"tRNS", bytes([10]))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(blob)
    assert out.shape == (2, 2, 4)
    assert (out[0, 0] == [255, 0, 0, 10]).all()  # tRNS alpha on entry 0
    assert (out[0, 1] == [0, 255, 0, 255]).all()
    assert (out[1, 0] == [0, 0, 255, 255]).all()
    # 1-bit gray, 10px wide (ragged last byte): pattern 1010101010
    w, h = 10, 2
    rowbits = bytes([0b10101010, 0b10000000])
    raw1 = (b"\x00" + rowbits) * h
    blob1 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 1, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw1))
        + chunk(b"IEND", b"")
    )
    out1 = multimodal.decode_png(blob1)
    assert out1.shape == (h, w, 1)
    assert (out1[0, :, 0] == np.array([255, 0] * 5)).all()


def test_png_differential_javax_imageio():
    """Differential vs the JVM's independent PNG decoder (javax.imageio,
    present because Spark requires Java): encode random RGB/RGBA/gray images
    with every filter type using encode_png, decode with ImageIO, compare
    pixels exactly. Skips if no JDK compiler is available."""
    import shutil
    import subprocess
    import tempfile

    import numpy as np

    if not shutil.which("javac") or not shutil.which("java"):
        pytest.skip("no JDK in environment")
    src = r"""
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.awt.image.Raster;
import java.io.File;
import java.io.FileOutputStream;
public class DumpPng {
    public static void main(String[] args) throws Exception {
        BufferedImage im = ImageIO.read(new File(args[0]));
        int w = im.getWidth(), h = im.getHeight();
        Raster r = im.getRaster();
        int bands = r.getNumBands();
        FileOutputStream out = new FileOutputStream(args[1]);
        for (int y = 0; y < h; y++)
            for (int x = 0; x < w; x++)
                for (int b = 0; b < bands; b++)
                    out.write(r.getSample(x, y, b));
        out.close();
        System.out.println(w + " " + h + " " + bands);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/DumpPng.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/DumpPng.java"], check=True, cwd=td)
        rng = np.random.default_rng(3)
        for c in (1, 3, 4):
            img = rng.integers(0, 256, size=(9, 14, c), dtype=np.uint8)
            for ft in range(5):
                blob = multimodal.encode_png(img, filter_type=ft)
                with open(f"{td}/t.png", "wb") as f:
                    f.write(blob)
                r = subprocess.run(
                    ["java", "-cp", td, "DumpPng", f"{td}/t.png", f"{td}/px.bin"],
                    check=True, capture_output=True, text=True,
                )
                w, h, bands = map(int, r.stdout.split())
                assert (w, h, bands) == (14, 9, c)
                ref = np.fromfile(f"{td}/px.bin", dtype=np.uint8).reshape(h, w, c)
                assert (ref == img).all(), (c, ft)


def test_png_16bit_strips_high_byte():
    """16-bit PNG (javax-encoded TYPE_USHORT_GRAY) decodes to the high byte
    of each big-endian sample — the png_set_strip_16 convention."""
    import shutil
    import struct
    import subprocess
    import tempfile

    import numpy as np

    if not shutil.which("javac"):
        pytest.skip("no JDK in environment")
    src = r"""
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.File;
public class Write16 {
    public static void main(String[] args) throws Exception {
        int w = 9, h = 7;
        BufferedImage im = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY);
        for (int y = 0; y < h; y++)
            for (int x = 0; x < w; x++)
                im.getRaster().setSample(x, y, 0, (x * 7919 + y * 104729) % 65536);
        ImageIO.write(im, "png", new File(args[0]));
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/Write16.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/Write16.java"], check=True, cwd=td)
        subprocess.run(["java", "-cp", td, "Write16", f"{td}/t16.png"], check=True)
        blob = open(f"{td}/t16.png", "rb").read()
    assert struct.unpack(">IIBBBBB", blob[16:29])[2] == 16  # really 16-bit
    out = multimodal.decode_png(blob)
    want = np.array(
        [[((x * 7919 + y * 104729) % 65536) >> 8 for x in range(9)] for y in range(7)],
        dtype=np.uint8,
    )
    assert out.shape == (7, 9, 1) and (out[:, :, 0] == want).all()


def test_png_adam7_interlaced():
    """Adam7-interlaced PNG decodes exactly — ground truth is libpng's own
    pngtest.png (8-bit RGBA, interlace=1) compared against javax.imageio.
    Also asserts a handcrafted tiny interlaced gray image scatters passes
    to the right pixels."""
    import os
    import shutil
    import struct
    import subprocess
    import tempfile
    import zlib

    import numpy as np

    # handcrafted 3x3 1-channel 8-bit interlaced: passes 1,2,4,6 empty-or-not
    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    # image: [[1,2,3],[4,5,6],[7,8,9]]
    # Adam7 at 3x3: p1=(0,0)->[1]; p4=(2,0) dx4,dy4 ->[3]; p5=(0,2) dx2 dy4 ->[7,9]
    # p6=(1,0) dx2 dy2 ->[2],[8]; p7=(0,1) dy2 ->[4,5,6]
    raw = (
        b"\x00" + bytes([1])          # pass1 1x1
        + b"\x00" + bytes([3])        # pass4 1x1
        + b"\x00" + bytes([7, 9])     # pass5 2x1
        + b"\x00" + bytes([2]) + b"\x00" + bytes([8])  # pass6 1x2
        + b"\x00" + bytes([4, 5, 6])  # pass7 3x1
    )
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = multimodal.decode_png(blob)
    assert (out[:, :, 0] == np.arange(1, 10).reshape(3, 3)).all()

    pngtest = "/usr/share/doc/libpng-dev/examples/pngtest.png"
    if not os.path.exists(pngtest) or not shutil.which("javac"):
        pytest.skip("pngtest.png or JDK not in environment")
    mine = multimodal.decode_png(open(pngtest, "rb").read())
    src = r"""
import javax.imageio.ImageIO;
import java.awt.image.Raster;
import java.io.File;
import java.io.FileOutputStream;
public class DumpRaster {
    public static void main(String[] args) throws Exception {
        Raster r = ImageIO.read(new File(args[0])).getRaster();
        int w = r.getWidth(), h = r.getHeight(), bands = r.getNumBands();
        FileOutputStream out = new FileOutputStream(args[1]);
        for (int y = 0; y < h; y++)
            for (int x = 0; x < w; x++)
                for (int b = 0; b < bands; b++)
                    out.write(r.getSample(x, y, b));
        out.close();
        System.out.println(w + " " + h + " " + bands);
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/DumpRaster.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/DumpRaster.java"], check=True, cwd=td)
        r = subprocess.run(
            ["java", "-cp", td, "DumpRaster", pngtest, f"{td}/px.bin"],
            check=True, capture_output=True, text=True,
        )
        w, h, b = map(int, r.stdout.split())
        ref = np.fromfile(f"{td}/px.bin", dtype=np.uint8).reshape(h, w, b)
    assert mine.shape == ref.shape
    assert (mine == ref).all()


def test_jpeg_differential_javax_imageio():
    """Baseline-JPEG decoder vs the JVM's libjpeg-style decoder: javax
    ENCODES random smooth images (an independent encoder), both sides decode
    the same bitstream, pixels must agree within the T.81 conformance-style
    tolerance. Gray (single component, no upsampling) is held to max +/-2;
    4:2:0 color is held to max +/-5 (we mirror libjpeg's triangular "fancy"
    chroma upsampler in float, so residuals are IDCT/rounding-only)."""
    import shutil
    import subprocess
    import tempfile

    import numpy as np

    from fia_own_map_spark.operators.jpeg import decode_jpeg

    if not shutil.which("javac") or not shutil.which("java"):
        pytest.skip("no JDK in environment")
    src = r"""
import javax.imageio.ImageIO;
import javax.imageio.ImageWriteParam;
import javax.imageio.ImageWriter;
import javax.imageio.stream.FileImageOutputStream;
import java.awt.image.BufferedImage;
import java.awt.image.Raster;
import java.io.File;
import java.io.FileOutputStream;
import java.nio.file.Files;
import java.nio.file.Paths;
public class JpegTool {
    public static void main(String[] args) throws Exception {
        if (args[0].equals("enc")) {
            int w = Integer.parseInt(args[2]), h = Integer.parseInt(args[3]);
            int bands = Integer.parseInt(args[4]);
            byte[] raw = Files.readAllBytes(Paths.get(args[1]));
            BufferedImage im = new BufferedImage(w, h,
                bands == 1 ? BufferedImage.TYPE_BYTE_GRAY : BufferedImage.TYPE_3BYTE_BGR);
            int k = 0;
            for (int y = 0; y < h; y++)
                for (int x = 0; x < w; x++)
                    for (int b = 0; b < bands; b++)
                        im.getRaster().setSample(x, y, b, raw[k++] & 0xFF);
            ImageWriter wr = ImageIO.getImageWritersByFormatName("jpg").next();
            ImageWriteParam p = wr.getDefaultWriteParam();
            p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT);
            p.setCompressionQuality(Float.parseFloat(args[6]));
            if (args.length > 7 && args[7].equals("prog"))
                p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);
            wr.setOutput(new FileImageOutputStream(new File(args[5])));
            wr.write(null, new javax.imageio.IIOImage(im, null, null), p);
            wr.dispose();
        } else {
            BufferedImage im = ImageIO.read(new File(args[1]));
            int w = im.getWidth(), h = im.getHeight();
            Raster r = im.getRaster();
            int bands = r.getNumBands();
            FileOutputStream out = new FileOutputStream(args[2]);
            for (int y = 0; y < h; y++)
                for (int x = 0; x < w; x++)
                    for (int b = 0; b < bands; b++)
                        out.write(r.getSample(x, y, b));
            out.close();
            System.out.println(w + " " + h + " " + bands);
        }
    }
}
"""
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegTool.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/JpegTool.java"], check=True, cwd=td)
        rng = np.random.default_rng(5)
        h, w = 24, 33
        yy, xx = np.mgrid[0:h, 0:w]
        for bands, quality, mode in (
            (1, 0.9, "base"), (3, 0.9, "base"), (3, 0.7, "base"),
            # progressive (SOF2): spectral-selection + successive-
            # approximation scans through the same coefficient-store path
            (1, 0.9, "prog"), (3, 0.8, "prog"),
        ):
            # smooth low-frequency image: quantization keeps signal, so the
            # decoder comparison is meaningful rather than noise-vs-noise
            img = np.stack(
                [
                    (128 + 100 * np.sin(xx / 5 + b) * np.cos(yy / 7 + b)).astype(np.uint8)
                    for b in range(bands)
                ],
                axis=2,
            )
            img.tofile(f"{td}/raw.bin")
            subprocess.run(
                ["java", "-cp", td, "JpegTool", "enc", f"{td}/raw.bin", str(w),
                 str(h), str(bands), f"{td}/t.jpg", str(quality), mode],
                check=True,
            )
            blob = open(f"{td}/t.jpg", "rb").read()
            if mode == "prog":
                assert b"\xff\xc2" in blob  # javax really emitted SOF2
            mine = decode_jpeg(blob)
            r = subprocess.run(
                ["java", "-cp", td, "JpegTool", "dec", f"{td}/t.jpg", f"{td}/px.bin"],
                check=True, capture_output=True, text=True,
            )
            rw, rh, rb = map(int, r.stdout.split())
            ref = np.fromfile(f"{td}/px.bin", dtype=np.uint8).reshape(rh, rw, rb)
            assert mine.shape == ref.shape == (h, w, bands)
            d = np.abs(mine.astype(int) - ref.astype(int))
            if bands == 1:
                assert d.max() <= 2, d.max()
            else:
                # fancy upsampler matches libjpeg's within rounding; measured
                # max=3 mean<0.5 frac>2<0.3% on these fixtures
                assert d.max() <= 5 and d.mean() < 0.8 and (d > 2).mean() < 0.01, (
                    d.max(), d.mean(), (d > 2).mean()
                )


def _mp3_frame(kbps_idx: int, kbps: int, *, mpeg1=True, mono=False, sr_idx=0,
               rate=44100, pad=0, fill=0xAA) -> bytes:
    """Handcraft one MPEG Layer-III frame with the given header fields."""
    b1 = 0b11100000 | ((0b11 if mpeg1 else 0b10) << 3) | (0b01 << 1) | 1
    b2 = (kbps_idx << 4) | (sr_idx << 2) | (pad << 1)
    b3 = (0b11 << 6) if mono else 0x00
    spf = 1152 if mpeg1 else 576
    frame_len = spf * kbps * 1000 // (8 * rate) + pad
    return bytes([0xFF, b1, b2, b3]) + bytes([fill]) * (frame_len - 4)


def test_mp3_header_scan():
    """MP3 metadata scan over handcrafted spec frames: ID3v2 skip, CBR
    MPEG-1 stereo, VBR detection (both bitrate-mix and Xing tag), MPEG-2
    mono rates, and byte-level resync past leading garbage."""
    from fia_own_map_spark.operators.multimodal import mp3_meta

    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + bytes(100)
    cbr = id3 + b"".join(_mp3_frame(9, 128) for _ in range(20))
    m = mp3_meta(cbr)
    assert (m["mpeg_version"], m["layer"], m["sample_rate"], m["n_channels"]) == ("1", 3, 44100, 2)
    assert m["n_frames"] == 20 and m["avg_bitrate_kbps"] == 128.0 and not m["vbr"]
    assert abs(m["duration_s"] - 20 * 1152 / 44100) < 1e-6

    vbr = b"junkbytes" + b"".join(
        _mp3_frame(9, 128) if i % 2 else _mp3_frame(10, 160) for i in range(10)
    )
    mv = mp3_meta(vbr)
    assert mv["vbr"] and mv["avg_bitrate_kbps"] == 144.0 and mv["n_frames"] == 10

    # Xing tag after the 32-byte MPEG-1 stereo side info => VBR even at CBR
    f0 = bytearray(_mp3_frame(9, 128))
    f0[4 + 32 : 4 + 36] = b"Xing"
    assert mp3_meta(bytes(f0) + _mp3_frame(9, 128))["vbr"]

    m2 = mp3_meta(b"".join(_mp3_frame(8, 64, mpeg1=False, mono=True, rate=22050) for _ in range(5)))
    assert (m2["mpeg_version"], m2["sample_rate"], m2["n_channels"]) == ("2", 22050, 1)
    assert abs(m2["duration_s"] - 5 * 576 / 22050) < 1e-6

    # MPEG-2.5: version bits 00, rate table's 11025 family used AS-IS
    def frame25(kbps_idx, kbps, rate=11025):
        b1 = 0b11100000 | (0b00 << 3) | (0b01 << 1) | 1
        b2 = (kbps_idx << 4) | (0 << 2)
        frame_len = 576 * kbps * 1000 // (8 * rate)
        return bytes([0xFF, b1, b2, 0x00]) + bytes(frame_len - 4)

    m25 = mp3_meta(b"".join(frame25(8, 64) for _ in range(4)))
    assert (m25["mpeg_version"], m25["sample_rate"]) == ("2.5", 11025)
    assert abs(m25["duration_s"] - 4 * 576 / 11025) < 1e-6

    with pytest.raises(ValueError):
        mp3_meta(b"\x00" * 64)


def test_media_probe_mixed_corpus(spark):
    """media_probe over one blob of every supported kind: header-only
    dispatch, no payload decode, typed nulls where not applicable."""
    import numpy as np

    from fia_own_map_spark.operators.multimodal import (
        encode_avi_mjpeg, encode_png, encode_wav, make_fake_image, media_probe,
    )

    img = np.arange(12 * 9 * 3, dtype=np.uint8).reshape(9, 12, 3) % 251
    png = encode_png(img, filter_type=4)
    bmp = multimodal.encode_bmp(img)
    wav = encode_wav(np.zeros((441, 2)), rate=4410)
    mp3 = b"".join(_mp3_frame(9, 128) for _ in range(4))
    blobs = [("png", png), ("bmp", bmp), ("wav", wav), ("mp3", mp3),
             ("fake", make_fake_image("x", 7, 5, seed=1))]
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"]))
    out = media_probe(df).toPandas().set_index("media_id")
    assert out.loc["png", "kind"] == "png" and out.loc["png", "width"] == 12
    assert out.loc["bmp", "kind"] == "bmp" and out.loc["bmp", "height"] == 9
    assert out.loc["wav", "sample_rate"] == 4410
    assert abs(out.loc["wav", "duration_s"] - 0.1) < 1e-6
    assert out.loc["mp3", "kind"] == "mp3" and "128kbps" in out.loc["mp3", "detail"]
    assert out.loc["fake", "width"] == 7
    assert pd.isna(out.loc["png", "duration_s"]) and pd.isna(out.loc["wav", "width"])


class _SpsWriter:
    """Minimal bitstream writer for handcrafting SPS test vectors."""

    def __init__(self):
        self.bits = []

    def u(self, v, n):
        self.bits += [(v >> i) & 1 for i in range(n - 1, -1, -1)]

    def ue(self, v):
        v1 = v + 1
        nb = v1.bit_length()
        self.u(0, nb - 1)
        self.u(v1, nb)

    def rbsp(self):
        b = self.bits + [1]  # rbsp_stop_one_bit
        b += [0] * (-len(b) % 8)
        return bytes(
            int("".join(map(str, b[i : i + 8])), 2) for i in range(0, len(b), 8)
        )


def test_h264_sps_scan():
    """H.264 SPS metadata over handcrafted spec bitstreams: Baseline
    1280x720 progressive (no crop) and High 1920x1080 (1088 coded, bottom
    crop 8 via 4:2:0 crop units)."""
    from fia_own_map_spark.operators.multimodal import h264_sps_meta

    w = _SpsWriter()
    w.u(66, 8); w.u(0, 8); w.u(30, 8)        # Baseline, level 3.0
    w.ue(0)                                   # sps_id
    w.ue(0); w.ue(0); w.ue(0)                 # log2_frame_num, poc_type 0, log2_poc
    w.ue(1); w.u(0, 1)                        # max_ref, gaps
    w.ue(79); w.ue(44)                        # 80x45 macroblocks
    w.u(1, 1); w.u(1, 1); w.u(0, 1); w.u(0, 1)  # frame_mbs_only, direct8x8, no crop, no vui
    blob = b"\x00junk" + b"\x00\x00\x01\x67" + w.rbsp() + b"\x00\x00\x01\x68\xce"
    m = h264_sps_meta(blob)
    assert (m["profile"], m["level"], m["width"], m["height"]) == ("Baseline", 3.0, 1280, 720)
    assert not m["interlaced_capable"]

    w = _SpsWriter()
    w.u(100, 8); w.u(0, 8); w.u(40, 8)        # High, level 4.0
    w.ue(0)                                   # sps_id
    w.ue(1)                                   # chroma 4:2:0
    w.ue(0); w.ue(0); w.u(0, 1); w.u(0, 1)    # bit depths, qpprime, no scaling matrix
    w.ue(0); w.ue(0); w.ue(0)                 # log2_frame_num, poc_type 0, log2_poc
    w.ue(4); w.u(0, 1)                        # max_ref, gaps
    w.ue(119); w.ue(67)                       # 120x68 macroblocks (1920x1088)
    w.u(1, 1); w.u(1, 1)                      # frame_mbs_only, direct8x8
    w.u(1, 1); w.ue(0); w.ue(0); w.ue(0); w.ue(4)  # crop bottom 4 units x2 = 8
    w.u(0, 1)                                 # no vui
    m = h264_sps_meta(b"\x00\x00\x00\x01\x67" + w.rbsp())
    assert (m["profile"], m["width"], m["height"], m["level"]) == ("High", 1920, 1080, 4.0)

    with pytest.raises(ValueError):
        h264_sps_meta(b"\x00\x00\x01\x68\xce\x38\x80")  # PPS only, no SPS


def test_aac_adts_header_scan():
    """ADTS metadata over handcrafted spec frames: AAC-LC 44100 stereo,
    syncword resync, raw-data-block accounting."""
    from fia_own_map_spark.operators.multimodal import aac_adts_meta

    def adts_frame(payload_len=50, sr_idx=4, channels=2, profile=1, blocks=1):
        frame_len = 7 + payload_len
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF1  # MPEG-4, layer 00, no CRC
        h[2] = (profile << 6) | (sr_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x3)
        h[4] = (frame_len >> 3) & 0xFF
        h[5] = ((frame_len & 0x7) << 5) | 0x1F
        h[6] = 0xFC | (blocks - 1)
        return bytes(h) + bytes(payload_len)

    blob = b"garbage" + b"".join(adts_frame() for _ in range(12))
    m = aac_adts_meta(blob)
    assert (m["profile"], m["sample_rate"], m["n_channels"], m["mpeg4"]) == ("AAC LC", 44100, 2, True)
    assert m["n_frames"] == 12
    assert abs(m["duration_s"] - 12 * 1024 / 44100) < 1e-6

    # two raw data blocks per frame double the duration
    m2 = aac_adts_meta(b"".join(adts_frame(blocks=2) for _ in range(6)))
    assert abs(m2["duration_s"] - 12 * 1024 / 44100) < 1e-6

    with pytest.raises(ValueError):
        aac_adts_meta(b"\x00" * 32)


def test_probe_media_routing_and_header_edge_cases():
    """r5 ADVICE regressions: ID3-prefixed AAC routes to the ADTS scanner,
    a CRC-protected frame still finds its Xing tag, and SOF3/SOF9 JPEG
    dimensions are header-readable even though decode rejects them."""
    import struct

    from fia_own_map_spark.operators.multimodal import mp3_meta, probe_media

    def adts_frame(payload_len=50, sr_idx=4, channels=2, profile=1, blocks=1):
        frame_len = 7 + payload_len
        h = bytearray(7)
        h[0], h[1] = 0xFF, 0xF1
        h[2] = (profile << 6) | (sr_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 0x3) << 6) | ((frame_len >> 11) & 0x3)
        h[4] = (frame_len >> 3) & 0xFF
        h[5] = ((frame_len & 0x7) << 5) | 0x1F
        h[6] = 0xFC | (blocks - 1)
        return bytes(h) + bytes(payload_len)

    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 40]) + bytes(40)
    out = probe_media(id3 + b"".join(adts_frame() for _ in range(6)))
    assert out["kind"] == "aac" and out["sample_rate"] == 44100
    out = probe_media(id3 + b"".join(_mp3_frame(9, 128) for _ in range(4)))
    assert out["kind"] == "mp3"

    # protection_bit=0: 2-byte CRC precedes side info, Xing shifts by 2
    f0 = bytearray(_mp3_frame(9, 128))
    f0[1] &= 0xFE  # clear protection bit => CRC present
    f0[4 + 2 + 32 : 4 + 2 + 36] = b"Xing"
    assert mp3_meta(bytes(f0) + _mp3_frame(9, 128))["vbr"]
    # and without the CRC offset the same placement must NOT match
    f1 = bytearray(_mp3_frame(9, 128))
    f1[4 + 2 + 32 : 4 + 2 + 36] = b"Xing"  # protection bit still set
    assert not mp3_meta(bytes(f1) + _mp3_frame(9, 128))["vbr"]

    # SOF3 (lossless) and SOF9 (arithmetic) dims are probe-readable
    for sof in (0xC3, 0xC9):
        jpg = (b"\xff\xd8" + b"\xff" + bytes([sof])
               + struct.pack(">HBHHB", 11, 8, 33, 44, 1) + b"\x01\x11\x00"
               + b"\xff\xd9")
        out = probe_media(jpg)
        assert (out["kind"], out["width"], out["height"]) == ("jpeg", 44, 33)


def test_mp3_metadata_spark(spark):
    from fia_own_map_spark.operators.multimodal import mp3_metadata

    blobs = [
        ("a", b"".join(_mp3_frame(9, 128) for _ in range(8))),
        ("b", b"".join(_mp3_frame(12, 224) for _ in range(3))),
    ]
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"]))
    out = mp3_metadata(df).toPandas().set_index("media_id")
    assert out.loc["a", "n_frames"] == 8 and out.loc["a", "avg_bitrate_kbps"] == 128.0
    assert out.loc["b", "avg_bitrate_kbps"] == 224.0 and not out.loc["b", "vbr"]


def test_wav_extensible_wrapper():
    """WAVE_FORMAT_EXTENSIBLE (0xFFFE + KSDATAFORMAT PCM GUID) must decode
    identically to the plain PCM stream it wraps. The wrapper is built by
    rewriting a plain 16-bit PCM file's fmt chunk into extensible form —
    the data chunk is untouched, so any decode difference is a wrapper
    parsing bug."""
    import struct as _struct

    import numpy as np

    t = np.linspace(0, 1, 800, endpoint=False)
    sig = np.stack([np.sin(2 * np.pi * 440 * t), np.cos(2 * np.pi * 220 * t)], axis=1)
    blob = multimodal.encode_wav(sig * 0.5, rate=8000)
    plain, rate = multimodal.decode_wav(blob)

    # locate the fmt chunk and rebuild it as EXTENSIBLE (cbSize=22)
    pos = 12
    out = bytearray(blob[:12])
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = _struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            std = bytearray(body[:16])
            _struct.pack_into("<H", std, 0, 0xFFFE)  # format tag -> extensible
            guid = b"\x01\x00" + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
            ext = bytes(std) + _struct.pack("<HHI", 22, 16, 0x3) + guid
            out += b"fmt " + _struct.pack("<I", len(ext)) + ext
        else:
            out += blob[pos : pos + 8 + size + (size & 1)]
        pos += 8 + size + (size & 1)
    # patch RIFF size
    _struct.pack_into("<I", out, 4, len(out) - 8)
    got, rate2 = multimodal.decode_wav(bytes(out))
    assert rate2 == rate
    assert np.array_equal(got, plain)
    # a non-KSDATAFORMAT GUID still raises
    bad = bytes(out).replace(b"\x38\x9b\x71", b"\x38\x9b\x72")
    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(bad)


def test_wav_codec_differential_stdlib():
    """WAV codec vs the stdlib `wave` module (independent implementation):
    stdlib writes -> we decode exactly; we encode -> stdlib reads exactly.
    Plus the 8-bit-unsigned and IEEE-float32 decode branches on handcrafted
    chunks."""
    import io
    import struct as st
    import wave

    import numpy as np

    sig = (np.sin(np.arange(8000) / 20)[:, None] * np.array([0.5, 0.25]))
    ints = np.round(sig * 32767).astype("<i2")
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(16000)
    w.writeframes(ints.tobytes())
    w.close()
    samples, rate = multimodal.decode_wav(buf.getvalue())
    assert rate == 16000 and samples.shape == (8000, 2)
    assert np.abs(samples - ints.astype(np.float64) / 32768.0).max() < 1e-12

    blob = multimodal.encode_wav(sig, 22050)
    r = wave.open(io.BytesIO(blob))
    assert (r.getnchannels(), r.getframerate(), r.getnframes()) == (2, 22050, 8000)
    back = np.frombuffer(r.readframes(8000), dtype="<i2").reshape(-1, 2)
    assert np.abs(back - np.clip(np.round(sig * 32767), -32768, 32767)).max() == 0

    def wav_blob(fmt_code, bits, data, rate=8000, n_ch=1):
        fmt = st.pack("<HHIIHH", fmt_code, n_ch, rate, rate * n_ch * bits // 8,
                      n_ch * bits // 8, bits)
        body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
        body += b"data" + st.pack("<I", len(data)) + data
        return b"RIFF" + st.pack("<I", len(body)) + body

    s8, _ = multimodal.decode_wav(wav_blob(1, 8, bytes([0, 128, 255, 64])))
    assert np.allclose(s8[:, 0], [-1.0, 0.0, 127 / 128, -0.5])
    f32 = np.array([0.5, -0.25, 1.0], dtype="<f4").tobytes()
    sf_, rf = multimodal.decode_wav(wav_blob(3, 32, f32, rate=44100))
    assert rf == 44100 and np.allclose(sf_[:, 0], [0.5, -0.25, 1.0])
    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(wav_blob(85, 16, b"\0\0"))  # MP3-in-WAV


def _wav_chunks(fmt: bytes, data: bytes, extra: bytes = b"") -> bytes:
    import struct as st

    body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt + extra
    body += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", len(body)) + body


def test_wav_g711_differential_audioop():
    """G.711 mu-law/A-law sample decode vs CPython audioop's independent C
    tables: every one of the 256 codes, both laws, through a real WAV blob
    (format 7 / 6). The tables are computed from the ITU segment formulas,
    so a single mismatched code means a formula bug."""
    import struct as st

    import numpy as np

    audioop = pytest.importorskip("audioop")  # removed in 3.13
    codes = bytes(range(256))
    for fmt_code, law in [(7, audioop.ulaw2lin), (6, audioop.alaw2lin)]:
        fmt = st.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
        got, rate = multimodal.decode_wav(_wav_chunks(fmt, codes))
        assert rate == 8000 and got.shape == (256, 1)
        ref = np.frombuffer(law(codes, 2), dtype="<i2").astype(np.float64) / 32768.0
        assert np.array_equal(got[:, 0], ref)


def test_wav_ima_adpcm_differential_audioop():
    """IMA ADPCM (WAV format 0x11) block decode vs audioop.adpcm2lin with
    explicit state threading: random nibble streams, mono and stereo
    block layouts, plus the fact-chunk frame trim. audioop packs the
    FIRST sample in the HIGH nibble while IMA WAV packs it low, so the
    reference stream is nibble-swapped — a decoder that got the order
    wrong fails on the first byte."""
    import struct as st

    import numpy as np

    audioop = pytest.importorskip("audioop")
    rng = np.random.default_rng(7)

    def build(n_ch, block_align, n_blocks, fact=None):
        blocks = []
        for _ in range(n_blocks):
            hdr = b"".join(
                st.pack("<hBB", int(rng.integers(-32768, 32768)), int(rng.integers(0, 89)), 0)
                for _ in range(n_ch)
            )
            data = bytes(rng.integers(0, 256, size=block_align - 4 * n_ch, dtype=np.uint8))
            blocks.append(hdr + data)
        spb = (block_align - 4 * n_ch) * 2 // n_ch + 1
        fmt = st.pack("<HHIIHH", 0x11, n_ch, 8000, 4000, block_align, 4)
        fmt += st.pack("<HH", 2, spb)
        extra = b"" if fact is None else b"fact" + st.pack("<II", 4, fact)
        return _wav_chunks(fmt, b"".join(blocks), extra), blocks, spb

    def ref_channel(blocks, c, n_ch):
        out = []
        for blk in blocks:
            pred, idx, _ = st.unpack_from("<hBB", blk, 4 * c)
            byts = np.frombuffer(blk[4 * n_ch :], dtype=np.uint8)
            if n_ch > 1:
                byts = byts.reshape(-1, n_ch, 4)[:, c, :].reshape(-1)
            swapped = bytes(((byts & 0x0F) << 4) | (byts >> 4))
            dec, _state = audioop.adpcm2lin(swapped, 2, (pred, idx))
            out.append(np.array([pred], dtype=np.int64))
            out.append(np.frombuffer(dec, dtype="<i2").astype(np.int64))
        return np.concatenate(out)

    blob, blocks, spb = build(1, 256, 5)
    got, rate = multimodal.decode_wav(blob)
    assert rate == 8000 and got.shape == (5 * spb, 1)
    assert np.array_equal(
        np.round(got[:, 0] * 32768).astype(np.int64), ref_channel(blocks, 0, 1)
    )

    blob2, blocks2, spb2 = build(2, 264, 3, fact=700)
    got2, _ = multimodal.decode_wav(blob2)
    assert got2.shape == (700, 2)  # fact trims 3*spb2=771 -> 700
    for c in range(2):
        assert np.array_equal(
            np.round(got2[:, c] * 32768).astype(np.int64), ref_channel(blocks2, c, 2)[:700]
        )
    # header-only probe: ADPCM frames-per-block math + fact authority
    out = multimodal.probe_media(blob2)
    assert out["kind"] == "wav" and out["duration_s"] == round(700 / 8000, 6)
    out1 = multimodal.probe_media(blob)
    assert out1["duration_s"] == round(5 * spb / 8000, 6)


def test_wav_ima_adpcm_spec_vector():
    """Hand-computed IMA quantizer chain from the reference algorithm:
    state (pred=0, index=0), nibbles [0x0, 0x5, 0xF] ->
    samples [0, 8, -11] (step 7: diff 0; diff 1+7; step 11 signed
    diff -(1+2+5+11))."""
    import numpy as np

    out = multimodal._ima_decode_blocks(
        np.array([0]), np.array([0]), np.array([[0x0, 0x5, 0xF]], dtype=np.uint8)
    )
    assert out.tolist() == [[0, 8, -11]]


def test_jpeg_adobe_app14_transform0():
    """A 3-component JPEG whose Adobe APP14 marker says transform=0 stores
    RGB planes directly — the decoder must skip the YCbCr->RGB transform.
    Checked by splicing an APP14 t=0 segment into a javax-encoded YCbCr
    stream: the spliced decode returns the stored planes, so applying the
    YCbCr formula to them must reproduce the unspliced decode (+/-2 for the
    intermediate uint8 rounding)."""
    import shutil
    import struct as _struct
    import subprocess
    import tempfile

    from fia_own_map_spark.operators.jpeg import decode_jpeg

    if not shutil.which("javac") or not shutil.which("java"):
        pytest.skip("no JDK in environment")
    src_dir = tempfile.mkdtemp()
    try:
        # reuse the JpegTool source embedded in the JPEG differential test
        import re

        import numpy as np

        with open(__file__) as f:
            tool_src = [s for s in re.findall(r'src = r"""(.*?)"""', f.read(), re.S)
                        if "JpegTool" in s][0]
        h, w = 16, 24
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(128 + 90 * np.sin(xx / 4 + b) * np.cos(yy / 6 + b)).astype(np.uint8) for b in range(3)],
            axis=2,
        )
        with open(f"{src_dir}/JpegTool.java", "w") as f:
            f.write(tool_src)
        subprocess.run(["javac", f"{src_dir}/JpegTool.java"], check=True, cwd=src_dir)
        img.tofile(f"{src_dir}/raw.bin")
        subprocess.run(
            ["java", "-cp", src_dir, "JpegTool", "enc", f"{src_dir}/raw.bin",
             str(w), str(h), "3", f"{src_dir}/t.jpg", "0.95", "base"],
            check=True,
        )
        blob = open(f"{src_dir}/t.jpg", "rb").read()
        app14 = b"Adobe" + bytes(6) + bytes([0])  # version/flags zeroed, t=0
        spliced = (
            blob[:2] + b"\xff\xee" + _struct.pack(">H", 2 + len(app14)) + app14 + blob[2:]
        )
        rgb = decode_jpeg(blob).astype(np.float64)
        planes = decode_jpeg(spliced).astype(np.float64)  # stored YCbCr, unconverted
        y, cb, cr = planes[:, :, 0], planes[:, :, 1], planes[:, :, 2]
        reconv = np.stack(
            [
                y + 1.402 * (cr - 128.0),
                y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
                y + 1.772 * (cb - 128.0),
            ],
            axis=2,
        )
        reconv = np.clip(np.round(reconv), 0, 255)
        assert np.abs(reconv - rgb).max() <= 2
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def test_avi_mjpeg_container_roundtrip():
    """AVI container: encode N distinct JPEG bitstreams -> parse back
    byte-identical frames, RIFF word-alignment included (odd-length frames)."""
    frames = [b"\xff\xd8\xff" + bytes([i]) * (10 + i) for i in range(5)]  # odd+even
    blob = multimodal.encode_avi_mjpeg(frames, width=4, height=4, fps=10)
    got = multimodal.avi_frames(blob)
    assert got == frames
    with pytest.raises(ValueError):
        multimodal.avi_frames(b"RIFF\x00\x00\x00\x00WAVE")


def test_video_frame_features(spark):
    """Real MJPEG video path end-to-end through Spark: javax-encoded JPEG
    frames in an AVI, sampled every 2nd frame, decoded and featurized."""
    import shutil
    import subprocess
    import tempfile

    import numpy as np

    if not shutil.which("javac"):
        pytest.skip("no JDK in environment")
    # reuse the JpegTool source embedded in the JPEG differential test
    import re

    with open(__file__) as f:
        src = [s for s in re.findall(r'src = r"""(.*?)"""', f.read(), re.S)
               if "JpegTool" in s][0]
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/JpegTool.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/JpegTool.java"], check=True, cwd=td)
        frames = []
        means = []
        for i in range(4):  # 4 frames of distinct constant brightness
            img = np.full((16, 16, 3), 40 + 50 * i, dtype=np.uint8)
            means.append(40 + 50 * i)
            img.tofile(f"{td}/raw.bin")
            subprocess.run(
                ["java", "-cp", td, "JpegTool", "enc", f"{td}/raw.bin", "16",
                 "16", "3", f"{td}/f.jpg", "0.9"],
                check=True,
            )
            frames.append(open(f"{td}/f.jpg", "rb").read())
        blob = multimodal.encode_avi_mjpeg(frames, 16, 16, fps=4)
    df = spark.createDataFrame(
        pd.DataFrame([("v1", blob)], columns=["media_id", "blob"])
    )
    got = multimodal.video_frame_features(df, every_n=2).toPandas()
    assert got["frame_idx"].tolist() == [0, 2]
    assert (got["width"] == 16).all() and (got["height"] == 16).all()
    for row, want in zip(got.itertuples(), [means[0], means[2]]):
        assert abs(row.features[0] - want) < 3  # JPEG-lossy constant frame


def test_audio_featurize(spark):
    """audio_featurize over Spark binary columns: a pure 100 Hz sine has a
    known RMS (a/sqrt(2)), ZCR (~2f/rate) and peak (a)."""
    import numpy as np

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = 0.8 * np.sin(2 * np.pi * 100 * t)
    blob = multimodal.encode_wav(sine, rate)
    df = spark.createDataFrame(
        pd.DataFrame([("a1", blob)], columns=["media_id", "blob"])
    )
    got = multimodal.audio_featurize(df).toPandas().iloc[0]
    assert got["sample_rate"] == rate and got["n_channels"] == 1
    assert abs(got["duration_s"] - 1.0) < 1e-9
    assert abs(got["rms"][0] - 0.8 / np.sqrt(2)) < 1e-3
    assert abs(got["zero_crossing_rate"][0] - 200 / rate) < 0.002
    assert abs(got["peak"][0] - 0.8) < 1e-3


def test_classifier_cascade(spark):
    rows = [
        ("JOHN A SMITH", None, 45),
        ("SMITH FAMILY TRUST", None, 45),
        ("CASCADE HOLDINGS LLC", None, 41),
        ("PINNACLE HOMEOWNERS ASSOCIATION", None, 42),
        ("GRANITE CEMETERY", None, 43),
        ("FIRST BAPTIST CHURCH", None, 43),
        ("UNITED STATES FOREST SERVICE", None, 25),
        ("CITY OF RIVERTON", None, 32),
        ("STATE OF FRANKLIN DEPT OF NATURAL RESOURCES", None, 31),
        ("NOT AVAILABLE", None, -99),
    ]
    pdf = pd.DataFrame(rows, columns=["owner1", "owner2", "want"])
    sdf = spark.createDataFrame(pdf)
    sdf = with_initial_class(sdf, "owner1", "owner2")
    got = classify_own_type(sdf, "owner1", "owner2").select("owner1", "own_type", "want").toPandas()
    for _, r in got.iterrows():
        assert r["own_type"] == r["want"], (r["owner1"], r["own_type"], r["want"])


def test_ann_ivf_recall(spark):
    """IVF probes nprobe nearest cells; recall@k vs the brute-force baseline
    must be high on a clusterable fixture and the index must be reusable."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, 8)) * 3
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + rng.standard_normal(8) * 0.3
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = ann.cosine_topk(emb, queries, k=5).toPandas()
    cent = ann.lloyd_centroids(emb, n_cells=8, dim=8)
    approx = ann.ivf_lloyd_cosine_topk(
        emb, queries, k=5, nprobe=3, dim=8, centroids=cent
    ).toPandas()
    hits = 0
    for q in range(5):
        e = set(exact[exact.query_id == q]["vec_id"])
        a = set(approx[approx.query_id == q]["vec_id"])
        hits += len(e & a)
    recall = hits / (5 * 5)
    assert recall >= 0.8, recall
    # self-hit must rank first (cosine 1.0)
    for q in range(5):
        sub = approx[approx.query_id == q]
        assert sub[sub["rank"] == 1]["vec_id"].iloc[0] == q


def test_asof_join_semantics(spark):
    """Backward inclusive as-of: equal timestamps match; rows before any
    right row get nulls; latest-not-future right row wins."""
    from datetime import datetime

    from fia_own_map_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10), 100), (1, datetime(2024, 1, 1, 12), 200),
         (2, datetime(2024, 1, 1, 11), 300)],
        "k long, ts timestamp, rv long",
    )
    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9), "before-any"),
         (1, datetime(2024, 1, 1, 10), "tie-inclusive"),
         (1, datetime(2024, 1, 1, 11, 30), "between"),
         (1, datetime(2024, 1, 1, 13), "after-all"),
         (3, datetime(2024, 1, 1, 13), "no-right-key")],
        "k long, ts timestamp, tag string",
    )
    got = {r["tag"]: r["rv"] for r in
           asof_join(left, right, ["k"], "ts", "ts", ["rv"]).collect()}
    assert got == {"before-any": None, "tie-inclusive": 100, "between": 100,
                   "after-all": 200, "no-right-key": None}


def test_asof_join_preserves_matched_nulls(spark):
    """A matched right row whose own value is NULL must stay NULL — not
    inherit an older non-null value (ADVICE r2: struct-carry semantics,
    matching DuckDB/pandas ASOF JOIN)."""
    from datetime import datetime

    from fia_own_map_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10), 100), (1, datetime(2024, 1, 1, 12), None)],
        "k long, ts timestamp, rv long",
    )
    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 11), "hits-100"),
         (1, datetime(2024, 1, 1, 13), "hits-null-row")],
        "k long, ts timestamp, tag string",
    )
    got = {r["tag"]: r["rv"] for r in
           asof_join(left, right, ["k"], "ts", "ts", ["rv"]).collect()}
    assert got == {"hits-100": 100, "hits-null-row": None}


def test_gopher_repetition_features(spark):
    """Hand-computable line shapes: 4 lines, one duplicated; one bullet;
    one ellipsis line; NULL text yields all-zero fractions (size(NULL)
    semantics must not leak -1s)."""
    rows = [
        ("a", "alpha beta\n- item one\n- item one\nthe end..."),
        ("b", None),
        ("c", "word"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = {
        r["id"]: r
        for r in text.gopher_repetition_features(df).collect()
    }
    a = out["a"]
    assert a["dup_line_frac"] == 0.25  # 4 lines, 1 dup
    # dup chars: '- item one' (10) / total chars (10+10+10+10=40... compute)
    total = len("alpha beta") + len("- item one") * 2 + len("the end...")
    assert a["dup_line_char_frac"] == round(10 / total, 6)
    assert a["bullet_line_frac"] == 0.5
    assert a["ellipsis_line_frac"] == 0.25
    assert a["alpha_word_frac"] == 0.8  # the two bare '-' tokens have no alpha
    b = out["b"]
    assert b["dup_line_frac"] == 0.0 and b["alpha_word_frac"] == 0.0
    c = out["c"]
    assert c["dup_line_frac"] == 0.0 and c["alpha_word_frac"] == 1.0


def test_pii_scrub(spark):
    df = spark.createDataFrame(
        [("a", "mail x.y+z@a.co.uk ip 10.0.0.1 ph 555-123-4567 ssn 123-45-6789 end")],
        "id string, text string",
    )
    r = text.pii_scrub(df).collect()[0]
    assert (r["n_email"], r["n_ssn"], r["n_phone"], r["n_ipv4"]) == (1, 1, 1, 1)
    assert r["clean_text"] == "mail [EMAIL] ip [IP] ph [PHONE] ssn [SSN] end"


def test_wav_g711_differential_javasound():
    """Second independent G.711 conformance reference (r5 verdict stretch):
    every one of the 256 mu-law and A-law codes decoded through a real WAV
    blob and compared int16-exactly against the JDK's javax.sound ULAW/ALAW
    codecs (separate lineage from CPython audioop's C tables — two
    unrelated implementations agreeing with the ITU formulas code-for-code
    is as close to the ITU vector set as this container gets). Skips if no
    JDK."""
    import shutil
    import struct as st
    import subprocess
    import tempfile

    import numpy as np

    if not shutil.which("javac") or not shutil.which("java"):
        pytest.skip("no JDK in environment")
    src = r"""
import javax.sound.sampled.*;
import java.io.*;
public class G711Dump {
    public static void main(String[] args) throws Exception {
        AudioInputStream in = AudioSystem.getAudioInputStream(new File(args[0]));
        AudioFormat f = in.getFormat();
        AudioFormat pcm = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
            f.getSampleRate(), 16, f.getChannels(), 2 * f.getChannels(),
            f.getSampleRate(), false);
        AudioInputStream out = AudioSystem.getAudioInputStream(pcm, in);
        FileOutputStream fo = new FileOutputStream(args[1]);
        byte[] buf = new byte[4096];
        int n;
        while ((n = out.read(buf)) > 0) fo.write(buf, 0, n);
        fo.close();
    }
}
"""
    codes = bytes(range(256))
    with tempfile.TemporaryDirectory() as td:
        with open(f"{td}/G711Dump.java", "w") as f:
            f.write(src)
        subprocess.run(["javac", f"{td}/G711Dump.java"], check=True, cwd=td)
        for fmt_code in (7, 6):  # mu-law, A-law
            fmt = st.pack("<HHIIHH", fmt_code, 1, 8000, 8000, 1, 8)
            blob = _wav_chunks(fmt, codes)
            with open(f"{td}/t.wav", "wb") as f:
                f.write(blob)
            subprocess.run(
                ["java", "-cp", td, "G711Dump", f"{td}/t.wav", f"{td}/pcm.bin"],
                check=True, capture_output=True,
            )
            ref = np.fromfile(f"{td}/pcm.bin", dtype="<i2")
            got, rate = multimodal.decode_wav(blob)
            assert rate == 8000 and got.shape == (256, 1)
            ours = np.round(got[:, 0] * 32768.0).astype(np.int16)
            assert np.array_equal(ours, ref), (fmt_code, np.nonzero(ours != ref)[0][:5])
