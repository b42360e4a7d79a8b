"""Unit tests for the training-data operators (dedup / ANN / text /
multimodal header probe) and the classifier ladder."""

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
    avi = encode_avi_mjpeg([b"\xff\xd8\xff" + bytes(11)] * 3, 16, 9, fps=4)
    blobs = [("png", png), ("bmp", bmp), ("wav", wav), ("mp3", mp3), ("avi", avi),
             ("fake", make_fake_image("x", 7, 5, seed=1))]
    df = spark.createDataFrame(pd.DataFrame(blobs, columns=["media_id", "blob"]))
    out = media_probe(df).toPandas().set_index("media_id")
    assert out.loc["png", "kind"] == "png" and out.loc["png", "width"] == 12
    assert out.loc["bmp", "kind"] == "bmp" and out.loc["bmp", "height"] == 9
    assert out.loc["wav", "sample_rate"] == 4410
    assert abs(out.loc["wav", "duration_s"] - 0.1) < 1e-6
    assert out.loc["mp3", "kind"] == "mp3" and "128kbps" in out.loc["mp3", "detail"]
    avi_row = out.loc["avi"]
    assert (avi_row["kind"], avi_row["width"], avi_row["height"]) == ("avi", 16, 9)
    assert avi_row["duration_s"] == 0.75 and avi_row["detail"] == "3 frames"
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


def _adts_frame(payload_len=50, sr_idx=4, channels=2, profile=1, blocks=1) -> bytes:
    """Handcraft one ADTS AAC frame with the given header fields."""
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


def test_aac_adts_header_scan():
    """ADTS metadata over handcrafted spec frames: AAC-LC 44100 stereo,
    syncword resync, raw-data-block accounting."""
    from fia_own_map_spark.operators.multimodal import aac_adts_meta

    blob = b"garbage" + b"".join(_adts_frame() for _ in range(12))
    m = aac_adts_meta(blob)
    assert (m["profile"], m["sample_rate"], m["n_channels"], m["mpeg4"]) == ("AAC LC", 44100, 2, True)
    assert m["n_frames"] == 12
    assert abs(m["duration_s"] - 12 * 1024 / 44100) < 1e-6

    # two raw data blocks per frame double the duration
    m2 = aac_adts_meta(b"".join(_adts_frame(blocks=2) for _ in range(6)))
    assert abs(m2["duration_s"] - 12 * 1024 / 44100) < 1e-6

    with pytest.raises(ValueError):
        aac_adts_meta(b"\x00" * 32)


def test_probe_media_routing_and_header_edge_cases():
    """r5 ADVICE regressions: ID3-prefixed AAC routes to the ADTS scanner,
    a CRC-protected frame still finds its Xing tag, and SOF3/SOF9 JPEG
    dimensions are header-readable. An empty WAV data chunk is 0 s long;
    a WAV without one has no duration."""
    import struct

    import numpy as np

    from fia_own_map_spark.operators.multimodal import encode_wav, mp3_meta, probe_media

    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 40]) + bytes(40)
    out = probe_media(id3 + b"".join(_adts_frame() for _ in range(6)))
    assert out["kind"] == "aac" and out["sample_rate"] == 44100
    assert probe_media(b"".join(_adts_frame() for _ in range(3)))["kind"] == "aac"
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

    empty = encode_wav(np.zeros((0, 1)), 8000)
    assert probe_media(empty)["duration_s"] == 0.0
    no_data = empty[: empty.index(b"data")]
    assert probe_media(no_data)["duration_s"] is None


def test_wav_codec_differential_stdlib():
    """encode_wav vs the stdlib `wave` module (independent implementation):
    we encode -> stdlib reads the same frames exactly."""
    import io
    import wave

    import numpy as np

    sig = (np.sin(np.arange(8000) / 20)[:, None] * np.array([0.5, 0.25]))
    blob = multimodal.encode_wav(sig, 22050)
    r = wave.open(io.BytesIO(blob))
    assert (r.getnchannels(), r.getframerate(), r.getnframes()) == (2, 22050, 8000)
    back = np.frombuffer(r.readframes(8000), dtype="<i2").reshape(-1, 2)
    assert np.abs(back - np.clip(np.round(sig * 32767), -32768, 32767)).max() == 0


def _wav_chunks(fmt: bytes, data: bytes, extra: bytes = b"") -> bytes:
    import struct as st

    body = b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt + extra
    body += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", len(body)) + body


def test_wav_ima_adpcm_differential_audioop():
    """Header-only probe of IMA ADPCM (WAV format 0x11) blobs, mono and
    stereo block layouts: the duration counts frames per block (a header
    sample plus two samples per data byte per channel), and a fact chunk's
    frame count overrides it, 0 frames included."""
    import struct as st

    import numpy as np

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
        return _wav_chunks(fmt, b"".join(blocks), extra), spb

    blob, spb = build(1, 256, 5)
    blob2, _ = build(2, 264, 3, fact=700)
    out = multimodal.probe_media(blob2)
    assert out["kind"] == "wav" and out["duration_s"] == round(700 / 8000, 6)
    out1 = multimodal.probe_media(blob)
    assert out1["duration_s"] == round(5 * spb / 8000, 6)
    assert multimodal.probe_media(build(1, 256, 1, fact=0)[0])["duration_s"] == 0.0


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

