"""Unit tests for the training-data operators (dedup / similarity / text /
multimodal) on constructed inputs with known answers."""

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data2neo_spark.operators import dedup, similarity, text, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumps over the sleepy dog"), # near dup
        (3, "completely different words appear in this text body"),
        (4, "der hund und die katze und der vogel"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_duplicates(spark, docs):
    got = {
        (r["keeper_id"], r["n_dups"])
        for r in dedup.exact_duplicates(docs, "doc_id").collect()
    }
    assert (0, 2) in got            # docs 0 and 1 collapse
    assert len(got) == 4            # 4 distinct texts


def test_ngram_jaccard(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", n=3, threshold=0.5).collect()
    d = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert d[(0, 1)] == 1.0         # identical
    assert (0, 2) in d and 0.5 <= d[(0, 2)] < 1.0
    assert (0, 3) not in d


def test_minhash_lsh_finds_exact_and_near(spark, docs):
    pairs = dedup.minhash_lsh_duplicates(
        docs, "doc_id", threshold=0.5, num_hashes=32, bands=16
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found


def test_simhash_hamming(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id").collect()}
    assert sh[0] == sh[1]           # identical text → identical simhash
    pairs = dedup.simhash_near_duplicates(docs, "doc_id", max_hamming=10).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found[(0, 1)] == 0


def test_embedding_near_duplicates(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_near_duplicates(df, "vec_id", threshold=0.99).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_cosine_topk_exact(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((4, [1.0, 0.1, 0.0, 0.0]))   # closest to vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, "vec_id", "embedding", query_max_id=1, k=1).collect()
    assert len(top) == 1 and top[0]["neighbor_id"] == 4


def test_lsh_and_ivf_run(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = similarity.cosine_topk(emb, "vec_id", "embedding", query_max_id=3, k=5)
    ivf = similarity.ivf_ann_topk(
        emb, "vec_id", "embedding", dim=64, query_max_id=3, k=5,
        n_cells=4, n_probe=4,   # probe all cells ⇒ recall 1.0
    )
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert got == want


def test_text_features(spark, docs):
    q = {r["doc_id"]: r for r in text.with_quality_features(docs).collect()}
    assert q[0]["n_words"] == 9
    langs = {r["doc_id"]: r["lang_pred"] for r in text.with_langid(docs).collect()}
    assert langs[0] == "en"
    assert langs[4] == "de"
    fp = {r["doc_id"]: r["fingerprint"] for r in text.with_fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, n=30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == 8 for r in feats)
    by_id = {r["media_id"]: r for r in feats}
    # real header parsing: PNG/JPEG dims and WAV rate follow the synth
    # formulas; opaque 'video' payloads parse to nulls
    for i, r in by_id.items():
        if i % 3 == 0:
            if (i // 3) % 2 == 0:
                # pixel-bearing PNG: small dims, real decoded stats
                pw, ph = 2 + (7 * i) % 14, 2 + (11 * i) % 13
                assert r["format"] == "png"
                assert (r["width"], r["height"]) == (pw, ph)
                exp_sum = sum((i * 31 + y * 7 + x * 13) % 256
                              for y in range(ph) for x in range(pw))
                assert r["px_sum"] == exp_sum
                assert 0 <= r["px_min"] <= r["px_max"] <= 255
            else:
                assert r["format"] == "jpeg"
                assert r["width"] == 16 + (7 * i) % 240
                assert r["height"] == 16 + (11 * i) % 240
                assert r["px_sum"] is None
        elif i % 3 == 1:
            assert r["format"] == "wav"
            assert r["sample_rate"] == 8000 + (i % 5) * 4000
            ds, ch = (i % 50 + 1) * 1000, 1 + i % 2
            assert r["duration_ms"] == (ds * 1000) // (r["sample_rate"] * ch * 2)
        else:
            assert r["format"] is None and r["width"] is None
    # deterministic across runs
    again = {r["media_id"]: r["sha256"] for r in
             multimodal.extract_features(multimodal.synth_media(spark, n=30)).collect()}
    assert again == {r["media_id"]: r["sha256"] for r in feats}
    # real features: decodable PNGs get per-channel pixel means, payloads
    # needing native codecs (JPEG/WAV/opaque) get null — no stub raise
    real = {r["media_id"]: r for r in
            multimodal.extract_features(media, fake_feature=False).collect()}
    for i, r in real.items():
        if i % 3 == 0 and (i // 3) % 2 == 0:
            assert r["feature"] is not None and len(r["feature"]) == 1
            assert abs(r["feature"][0] - r["px_sum"] / (r["width"] * r["height"]) / 255.0) < 1e-6
        else:
            assert r["feature"] is None


def test_png_pixel_decode_all_filters():
    """decode_png_pixels handles every RFC 2083 filter type — a 3-channel
    image is encoded by hand with None/Sub/Up/Average/Paeth (one per
    scanline) plus real chunk CRCs, then decoded and compared."""
    import struct
    import zlib

    w, h, ch = 5, 5, 3
    pixels = [[(x * 37 + y * 11 + c * 53) % 256 for x in range(w)
               for c in range(ch)] for y in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stride = w * ch
    raw = bytearray()
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = pixels[y]
        prev = pixels[y - 1] if y > 0 else [0] * stride
        raw.append(ftype)
        for x in range(stride):
            left = line[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                raw.append(line[x])
            elif ftype == 1:
                raw.append((line[x] - left) & 0xFF)
            elif ftype == 2:
                raw.append((line[x] - up) & 0xFF)
            elif ftype == 3:
                raw.append((line[x] - ((left + up) >> 1)) & 0xFF)
            else:
                raw.append((line[x] - paeth(left, up, ul)) & 0xFF)

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"  # RGB/8
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    got = multimodal.decode_png_pixels(png)
    assert got is not None
    gw, gh, gch, buf = got
    assert (gw, gh, gch) == (w, h, ch)
    flat = [v for line in pixels for v in line]
    assert list(buf) == flat
    st = multimodal.pixel_stats(png)
    assert st["n_px"] == w * h and st["px_sum"] == sum(flat)
    assert st["px_min"] == min(flat) and st["px_max"] == max(flat)
    assert len(st["channel_means"]) == 3
    # decode_image is the public alias; non-PNG raises ValueError
    assert multimodal.decode_image(png)[3] == bytes(flat)
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xd9")
    # header-only PNG (no IDAT) is an explicit error, not a wrong answer
    hdr_only = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    with pytest.raises(ValueError):
        multimodal.decode_png_pixels(hdr_only)
    assert multimodal.pixel_stats(hdr_only) is None


def test_header_parsers_on_real_files():
    """The parsers handle realistic containers, not just the synth shape:
    a PNG with a real CRC, a JPEG whose SOF0 sits after APP0+comment
    segments, a WAV with an extra chunk before data, and garbage."""
    import struct
    import zlib

    ihdr = struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00"
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
           + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    assert multimodal.parse_png(png) == (640, 480)

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    com = b"\xff\xfe" + struct.pack(">H", 9) + b"comment"
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(
        ">HH", 480, 640) + b"\x03" + b"\x00" * 9
    jpeg = b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"
    assert multimodal.parse_jpeg(jpeg) == (640, 480)

    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    data = b"\x00" * 400
    wav = (b"RIFF" + struct.pack("<I", 36 + 4 + 8 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt + extra
           + b"data" + struct.pack("<I", len(data)) + data)
    assert multimodal.parse_wav(wav) == (44100, 2, 16, 400 * 1000 // (44100 * 4))

    for garbage in (b"", b"\x00\x01", b"RIFFxxxx", b"\xff\xd8\xff\xd9"):
        hdr = multimodal.parse_header(garbage)
        assert hdr["format"] is None


def test_clean_corpus(spark):
    from data2neo_spark.operators.corpus import clean_corpus

    rows = [
        (0, "the quick brown fox jumps over the lazy dog and then some more words here now", "en"),
        (1, "the quick brown fox jumps over the lazy dog and then some more words here now", "en"),  # dup of 0
        (2, "short text", "en"),                                  # fails min_words
        (3, "der hund und die katze und der vogel und der fisch und die maus sind alle da", "de"),
        (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16", "en"),      # digit ratio
    ]
    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    kept, report = clean_corpus(docs, min_words=10, keep_langs=["en"], near_dedup=True)
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {0}   # 1 deduped, 2 too short, 3 german, 4 digits
    rep = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in report.collect()}
    assert rep["quality"] == (5, 3)      # drops 2 (short) and 4 (digits)
    assert rep["langid"] == (3, 2)       # drops 3 (de)
    assert rep["exact_dedup"] == (2, 1)  # collapses 0/1


def test_embedding_lsh_near_duplicates(spark):
    from data2neo_spark.operators.dedup import embedding_near_duplicates_lsh

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0 → same bucket w.h.p.
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates_lsh(
        df, "vec_id", dim=4, threshold=0.99, n_planes=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_asof_join(spark):
    from data2neo_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "q1"), (1, 205, "q2"), (2, 150, "q3"), (3, 50, "q4")],
        "key long, ts long, q string",
    )
    right = spark.createDataFrame(
        [(1, 90, "a"), (1, 200, "b"), (2, 150, "c")],
        "key long, ts long, v string",
    )
    got = {
        (r["key"], r["ts"], r["v_right"], r["ts_right"])
        for r in asof_join(left, right, "ts", ["key"]).collect()
    }
    assert got == {
        (1, 100, "a", 90),     # latest right <= 100
        (1, 205, "b", 200),
        (2, 150, "c", 150),    # tie: right at same ts is visible
        (3, 50, None, None),   # no right rows for key 3
    }


def test_range_join(spark):
    from data2neo_spark.operators.temporal import range_join
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("win_end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "ts")
    got = range_join(clicks, errors, "ts", "win_start", "win_end", bucket_seconds=600)
    # verify against the naive inequality join
    naive = clicks.join(
        errors,
        (F.col("ts") >= F.col("win_start")) & (F.col("ts") <= F.col("win_end")),
    )
    assert got.count() == naive.count() > 0
    a = {(r["event_id"], r["err_id"]) for r in got.collect()}
    b = {(r["event_id"], r["err_id"]) for r in naive.collect()}
    assert a == b


def test_simhash_blocking_recall_guarantee(spark, docs):
    """Pigeonhole property: for ANY max_hamming, blocking with
    max_hamming+1 chunks finds EVERY pair at hamming <= max_hamming —
    compare against brute-force over the signatures."""
    import itertools

    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id").collect()}
    for h in (1, 3, 7):
        expected = {
            (a, b)
            for a, b in itertools.combinations(sorted(sh), 2)
            if bin(sh[a] ^ sh[b]).count("1") <= h
        }
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_near_duplicates(
                docs, "doc_id", max_hamming=h
            ).collect()
        }
        assert got == expected, f"max_hamming={h}"


def test_ngram_shingle_df_cap(spark, docs):
    """The DF cap prunes candidate generation but never the verification:
    jaccard values are exact, and with a permissive cap results equal the
    uncapped run."""
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.3).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.3, max_shingle_df=100
        ).collect()
    }
    assert capped == uncapped and uncapped


def test_minhash_affine_family_spread(spark, docs):
    """Signature sanity: distinct docs get distinct signatures, identical
    docs identical ones, and the 64 affine functions aren't degenerate."""
    sigs = {r["doc_id"]: list(r["sig"]) for r in
            dedup.minhash_signatures(docs, "doc_id").collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert len(set(sigs[0])) > 48   # the family produces spread values


def test_sig_frame_bands_without_num_hashes_fails_at_plan_build(spark, docs):
    with pytest.raises(ValueError, match="bands requires num_hashes"):
        dedup._sig_frame(docs, "doc_id", "text", 3, bands=4)


def test_tfidf_top_terms(spark, docs):
    from data2neo_spark.operators.text import tfidf_top_terms

    out = tfidf_top_terms(docs, "doc_id", k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {r["doc_id"] for r in docs.collect()}
    for rows in by_doc.values():
        assert len(rows) <= 3
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == list(range(1, len(rows) + 1))
        scores = [r["score"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)


def test_chunk_documents(spark):
    from data2neo_spark.operators.text import chunk_documents

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            " ".join(f"w{i}" for i in range(25)),   # 25 tokens -> 2 chunks
            " ".join(f"w{i}" for i in range(10)),   # 10 tokens -> 1 chunk
            " ".join(f"w{i}" for i in range(5)),    # shorter than overlap
        ],
    }))
    out = chunk_documents(df, "doc_id", max_tokens=20, overlap=5).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[0]) == 2 and len(by_doc[1]) == 1 and len(by_doc[2]) == 1
    c0, c1 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert c0["n_tokens"] == 20 and c0["chunk_text"].startswith("w0 ")
    # stride 15: second chunk starts at token 15, 10 tokens remain
    assert c1["chunk_text"].split(" ")[0] == "w15" and c1["n_tokens"] == 10
    # overlap: last 5 tokens of chunk0 == first 5 of chunk1
    assert c0["chunk_text"].split(" ")[-5:] == c1["chunk_text"].split(" ")[:5]
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", max_tokens=10, overlap=10)


def test_corpus_stats(spark, docs):
    from data2neo_spark.operators.corpus import corpus_stats

    stats = corpus_stats(docs.withColumn("lang", F.lit("en"))).collect()
    assert len(stats) == 1
    row = stats[0]
    n = docs.count()
    assert row["n_docs"] == n and row["sum_tokens"] > 0
    assert row["med_tokens"] > 0 and row["sum_chars"] > 0


# ---------------------------------------------------------------------------
# round 3: gopher quality battery, PII, contamination
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def structured_docs(spark):
    rows = [
        # 4 lines, one duplicate ("same line"), one bullet, one ellipsis end
        (0, "same line\nsame line\n- a bullet item\ntrailing thought..."),
        # 2 paragraphs, second duplicates nothing; no bullets/ellipsis
        (1, "first para here\n\nsecond para here"),
        # symbols: two #, one ellipsis run; stopwords the/a/of
        (2, "the price of # a thing # is high ... maybe"),
        # numeric-only words pull frac_alpha_words below 1
        (3, "alpha 123 456 beta"),
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_gopher_quality_battery(spark, structured_docs):
    got = {
        r["doc_id"]: r.asDict()
        for r in text.with_gopher_quality(structured_docs).collect()
    }
    # doc 0: 4 lines, 1 duplicate line → 0.25; 1 bullet; 1 ellipsis line
    assert got[0]["frac_dup_lines"] == 0.25
    assert got[0]["frac_bullet_lines"] == 0.25
    assert got[0]["frac_ellipsis_lines"] == 0.25
    # doc 1: two distinct paragraphs, no dups anywhere
    assert got[1]["frac_dup_paragraphs"] == 0.0
    assert got[1]["frac_dup_lines"] == 0.0
    # doc 2: 11 words; 2 '#' + 1 '...' → 3/11; stopwords the+of+a = 3/11
    assert got[2]["symbol_word_ratio"] == round(3 / 11, 4)
    assert got[2]["frac_stop_words"] == round(3 / 11, 4)
    # doc 3: 2 of 4 words contain a letter
    assert got[3]["frac_alpha_words"] == 0.5
    assert got[3]["n_words"] == 4


def test_top_ngram_share(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "a b a b a b"), (1, "x y z w")],
            columns=["doc_id", "text"],
        )
    )
    got = {r["doc_id"]: r.asDict()
           for r in text.top_ngram_share(df, "doc_id", n=2).collect()}
    # doc 0 bigrams: "a b"×3, "b a"×2 → top share 3/5
    assert got[0]["top_c"] == 3 and got[0]["n_grams"] == 5
    assert got[0]["top_ngram_share"] == 0.6
    # doc 1: all 3 bigrams unique
    assert got[1]["top_ngram_share"] == round(1 / 3, 4)


def test_redact_pii(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "reach me at bob.smith+x@corp.example.org today"),
                (1, "server 192.168.0.1 and backup 10.0.0.254"),
                (2, "call +41791234567 now"),
                (3, "nothing sensitive here"),
            ],
            columns=["doc_id", "text"],
        )
    )
    got = {r["doc_id"]: r.asDict() for r in text.redact_pii(df).collect()}
    assert got[0]["n_email"] == 1
    assert got[0]["redacted"] == "reach me at <EMAIL> today"
    assert got[1]["n_ipv4"] == 2
    assert got[1]["redacted"] == "server <IPV4> and backup <IPV4>"
    assert got[2]["n_phone"] == 1 and "<PHONE>" in got[2]["redacted"]
    assert got[3]["n_email"] == got[3]["n_phone"] == got[3]["n_ipv4"] == 0
    assert got[3]["redacted"] == "nothing sensitive here"


def test_contamination_check(spark, docs):
    bench = spark.createDataFrame(
        pd.DataFrame(
            [(100, "fox jumps over the lazy dog today")],
            columns=["doc_id", "text"],
        )
    )
    got = {r["doc_id"]: r.asDict()
           for r in dedup.contamination_check(docs, bench, "doc_id", n=3).collect()}
    # docs 0/1 share "fox jumps over", "jumps over the", "over the lazy",
    # "the lazy dog" with the benchmark; doc 3/4 share nothing
    assert got[0]["n_hits"] == 4 and got[1]["n_hits"] == 4
    assert 3 not in got and 4 not in got
    # doc 2 shares the prefix 3-grams but not the "sleepy" ones
    assert got[2]["n_hits"] == 2
    assert got[0]["contaminated_frac"] == round(4 / got[0]["n_shingles"], 4)


def test_clean_corpus_gopher_gates(spark, structured_docs):
    from data2neo_spark.operators.corpus import clean_corpus

    kept, _ = clean_corpus(
        structured_docs, min_words=1, max_frac_dup_lines=0.2,
        min_frac_alpha_words=0.6,
    )
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # doc 0 fails dup-line gate, doc 3 fails alpha gate
    assert ids == {1, 2}


def test_asof_join_directions(spark):
    """forward = earliest right at/after; nearest = closer of the two,
    ties prefer backward; unmatched rows keep NULL."""
    import datetime as dt
    from data2neo_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "ts": [t(10), t(20), t(31)],
                      "lid": ["a", "b", "c"]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1], "ts": [t(12), t(28), t(40)],
                      "rid": ["r1", "r2", "r3"]})
    )

    def run(direction):
        out = asof_join(left, right, "ts", ["k"], value_cols=["rid"],
                        direction=direction)
        return {r["lid"]: r["rid_right"] for r in out.collect()}

    assert run("backward") == {"a": None, "b": "r1", "c": "r2"}
    assert run("forward") == {"a": "r1", "b": "r2", "c": "r3"}
    # a: only forward exists; b: 20-12=8 == 28-20=8 tie → backward r1;
    # c: 31-28=3 < 40-31=9 → backward r2
    assert run("nearest") == {"a": "r1", "b": "r1", "c": "r2"}


def test_duplicate_clusters(spark):
    """Connected components over pairs: chain 1-2-3 collapses to one
    cluster, isolated pair keeps its own, labels = component minimum."""
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 7, 10], "id_b": [2, 3, 8, 11]})
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 10: 10, 11: 10}


def test_dedupe_lines(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [
                "a\nb\na\nc\nb",          # dups at positions 3 and 5
                "only one line",
                "x\nx\nx",
            ],
        })
    )
    got = {r["doc_id"]: r.asDict() for r in text.dedupe_lines(df).collect()}
    assert got[0]["text_deduped"] == "a\nb\nc"
    assert got[0]["n_lines"] == 5 and got[0]["n_lines_kept"] == 3
    assert got[1]["text_deduped"] == "only one line"
    assert got[2]["text_deduped"] == "x" and got[2]["n_lines_kept"] == 1
    # paragraph mode splits on blank lines
    pdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["p1\n\np2\n\np1"]})
    )
    out = text.dedupe_lines(pdf, paragraph=True).collect()[0]
    assert out["text_deduped"] == "p1\n\np2"


def test_remove_shared_ngrams(spark):
    """3-token windows shared across docs are cut from every doc;
    overlapping windows merge into spans; unique text survives."""
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [
                "alpha beta gamma delta unique0 tail0",
                "intro1 alpha beta gamma delta unique1",
                "nothing shared here at all friends",
            ],
        })
    )
    got = {r["doc_id"]: r.asDict()
           for r in text.remove_shared_ngrams(df, "doc_id", n=3).collect()}
    # windows "alpha beta gamma" and "beta gamma delta" repeat in docs 0/1
    # → covered spans are tokens 0..3 (doc 0) and 1..4 (doc 1)
    assert got[0]["text_cleaned"] == "unique0 tail0"
    assert got[0]["n_tokens_removed"] == 4
    assert got[1]["text_cleaned"] == "intro1 unique1"
    assert got[1]["n_tokens_removed"] == 4
    assert got[2]["text_cleaned"] == got[2]["text"]
    assert got[2]["n_tokens_removed"] == 0


def test_pagerank_ordering(spark):
    """Sink-heavy node outranks its feeder; uniform init; dangling mass
    dropped by contract."""
    from data2neo_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 1, 2], "dst": [2, 3, 3]})
    )
    pr = {r["v"]: r["pr"] for r in pagerank(edges, iters=5).collect()}
    assert set(pr) == {1, 2, 3}
    # 3 receives from both 1 and 2; 2 only from 1; 1 from nobody
    assert pr[3] > pr[2] > pr[1]
    # node 1 has no in-edges → exactly the damping base after iteration 1
    assert pr[1] == (10**12 * 15) // (100 * 3)


def test_key_skew_report(spark):
    from data2neo_spark.operators.corpus import key_skew_report

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 6 + ["b"] * 3 + ["c"]})
    )
    got = [r.asDict() for r in key_skew_report(df, "k", top_k=2).collect()]
    got.sort(key=lambda r: r["rank"])
    assert [(r["key"], r["n_rows"], r["share"]) for r in got] == [
        ("a", 6, 0.6), ("b", 3, 0.3)
    ]


def test_embedding_centroids(spark):
    from data2neo_spark.operators.similarity import embedding_centroids

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [2.0, 2.0])],
        "label int, embedding array<float>",
    )
    got = {(r["label"], r["dim"]): r.asDict()
           for r in embedding_centroids(df, dim=2).collect()}
    assert got[(0, 0)]["centroid"] == 0.5 and got[(0, 0)]["n"] == 2
    assert got[(0, 1)]["centroid"] == 0.5
    assert got[(1, 0)]["centroid"] == 2.0 and got[(1, 1)]["centroid"] == 2.0


def test_unigram_scores(spark):
    """Corpus: 'the'×3, 'rare'×1 over two docs (total 4 tokens).
    ppb(the)=750M, ppb(rare)=250M; bits: ilog2(4)-ilog2(3)=1,
    ilog2(4)-ilog2(1)=2."""
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["the the", "the rare"]})
    )
    got = {r["doc_id"]: r.asDict()
           for r in text.with_unigram_scores(df, "doc_id").collect()}
    assert got[0]["avg_word_ppb"] == 750_000_000
    assert got[0]["sum_surprise_bits"] == 2          # 1 + 1
    assert got[1]["avg_word_ppb"] == 500_000_000     # (750M + 250M) / 2
    assert got[1]["sum_surprise_bits"] == 3          # 1 + 2


def test_asof_join_tolerance(spark):
    from data2neo_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "q1"), (1, 300, "q2")], "key long, ts long, q string"
    )
    right = spark.createDataFrame(
        [(1, 95, "a"), (1, 100, "b")], "key long, ts long, v string"
    )
    got = {
        r["q"]: (r["v_right"], r["ts_right"])
        for r in asof_join(left, right, "ts", ["key"], tolerance=10).collect()
    }
    assert got["q1"] == ("b", 100)       # within tolerance (diff 0)
    assert got["q2"] == (None, None)     # nearest is 200 away → discarded


def test_iterative_checkpoint_resume(spark, tmp_path):
    """duplicate_clusters and pagerank resume from their round checkpoints:
    a resumed run (fresh call, same dir) reproduces the uncheckpointed
    answer and skips completed rounds."""
    from data2neo_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 7], "id_b": [2, 3, 8]})
    )
    plain = {r["doc_id"]: r["cluster_id"]
             for r in dedup.duplicate_clusters(pairs).collect()}
    ck = str(tmp_path / "cc")
    first = {r["doc_id"]: r["cluster_id"]
             for r in dedup.duplicate_clusters(pairs, checkpoint_dir=ck).collect()}
    assert first == plain
    import os
    rounds = sorted(d for d in os.listdir(ck) if d.startswith("labels_round_"))
    assert rounds  # at least one round persisted
    # resume: same dir, fresh call → same answer
    resumed = {r["doc_id"]: r["cluster_id"]
               for r in dedup.duplicate_clusters(pairs, checkpoint_dir=ck).collect()}
    assert resumed == plain

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 1, 2], "dst": [2, 3, 3]})
    )
    want = {r["v"]: r["pr"] for r in pagerank(edges, iters=3).collect()}
    ckp = str(tmp_path / "pr")
    got1 = {r["v"]: r["pr"]
            for r in pagerank(edges, iters=3, checkpoint_dir=ckp).collect()}
    assert got1 == want
    # simulate a crash after round 1: drop the last round's marker
    import shutil
    shutil.rmtree(os.path.join(ckp, "pr_round_2"))
    got2 = {r["v"]: r["pr"]
            for r in pagerank(edges, iters=3, checkpoint_dir=ckp).collect()}
    assert got2 == want


def test_pagerank_ignores_rounds_of_a_longer_run(spark, tmp_path):
    """Checkpoints at or past ``iters`` (left by a longer run) must not
    short-circuit a shorter one, and a round without _SUCCESS is skipped."""
    import os
    from data2neo_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame({"src": [1, 1, 2, 3], "dst": [2, 3, 3, 1]})
    )
    want = {r["v"]: r["pr"] for r in pagerank(edges, iters=2).collect()}
    ck = str(tmp_path / "pr")
    longer = {r["v"]: r["pr"]
              for r in pagerank(edges, iters=3, checkpoint_dir=ck).collect()}
    assert longer != want
    got = {r["v"]: r["pr"]
           for r in pagerank(edges, iters=2, checkpoint_dir=ck).collect()}
    assert got == want
    # an interrupted round 1 resumes from round 0 instead
    os.remove(os.path.join(ck, "pr_round_1", "_SUCCESS"))
    got = {r["v"]: r["pr"]
           for r in pagerank(edges, iters=2, checkpoint_dir=ck).collect()}
    assert got == want


def test_duplicate_clusters_chain_fast_convergence(spark):
    """Adversarial chain 1-2-...-12: pointer jumping converges in O(log d)
    rounds — max_iter=6 suffices where plain propagation would need ~11."""
    n = 12
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(pairs, max_iter=6).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}
    # the jumped chain needs 4 rounds (the last one changes nothing), so
    # a budget of 3 is NOT enough
    with pytest.raises(RuntimeError, match="max_iter=3"):
        dedup.duplicate_clusters(pairs, max_iter=3)


def test_duplicate_clusters_raises_at_max_iter(spark, tmp_path):
    """A chain deeper than max_iter allows (the 8-chain needs 4 jumped
    rounds) does not converge in time: the operator raises instead of
    returning partial labels, and a run resumed from its checkpoints
    follows the same rule."""
    n = 8
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(1, n)), "id_b": list(range(2, n + 1))})
    )
    with pytest.raises(RuntimeError, match="max_iter=2"):
        dedup.duplicate_clusters(pairs, max_iter=2)
    ck = str(tmp_path / "cc")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        dedup.duplicate_clusters(pairs, max_iter=2, checkpoint_dir=ck)
    import os
    assert os.path.exists(os.path.join(ck, "labels_round_1", "_SUCCESS"))
    with pytest.raises(RuntimeError, match="max_iter=2"):
        dedup.duplicate_clusters(pairs, max_iter=2, checkpoint_dir=ck)
    # a larger budget resumes from round 1 and finishes the chain
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.duplicate_clusters(
               pairs, max_iter=12, checkpoint_dir=ck).collect()}
    assert got == {i: 1 for i in range(1, n + 1)}


def _plan_chars(df):
    return len(df._jdf.queryExecution().executedPlan().toString())


def test_duplicate_clusters_deep_chain_plan_stays_flat(spark):
    """Every round cuts its lineage, so a 1000-node chain (10 rounds)
    converges without a checkpoint dir, and its result plan is no larger
    than a 12-chain's (4 rounds) up to a factor of 2. Uncut, the plan
    string of a pointer-jumping round grows about 8x per round."""
    def chain(n):
        return spark.range(1, n).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )

    short = dedup.duplicate_clusters(chain(12))
    deep = dedup.duplicate_clusters(chain(1000))
    rows = deep.collect()
    assert len(rows) == 1000 and {r["cluster_id"] for r in rows} == {1}
    assert _plan_chars(deep) <= 2 * _plan_chars(short)


def test_corpus_length_quantiles(spark):
    from data2neo_spark.operators.corpus import corpus_length_quantiles

    df = spark.createDataFrame(pd.DataFrame({
        "lang": ["en"] * 5,
        "text": ["a", "a b", "a b c", "a b c d", "a b c d e"],
    }))
    got = {r["p"]: r["n_tokens_q"]
           for r in corpus_length_quantiles(df).collect()}
    assert got[0.5] == 3.0                 # median of 1..5
    assert got[0.1] == 1.4 and got[0.9] == 4.6   # linear interpolation


def test_empty_input_operators(spark):
    """Empty-corpus hardening: every set-producing operator returns an
    empty frame (not an error) on zero rows."""
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    from data2neo_spark.operators.graph import pagerank

    assert dedup.duplicate_clusters(empty_pairs).count() == 0
    assert dedup.exact_duplicates(empty_docs, "doc_id").count() == 0
    assert dedup.contamination_check(empty_docs, empty_docs, "doc_id").count() == 0
    assert text.top_ngram_share(empty_docs, "doc_id").count() == 0
    assert text.remove_shared_ngrams(empty_docs, "doc_id").count() == 0
    assert text.with_unigram_scores(empty_docs, "doc_id").count() == 0
    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges).count() == 0


def test_lsh_bucket_cap_star_pairs(spark):
    """Degenerate bucket guard: 5000 identical docs share every band
    bucket; with a cap, each bucket emits star pairs (O(k) structs per
    row, never k²/2) and the run completes with bounded row width while
    the observation surfaces the clipping (no-silent-caps)."""
    from pyspark.sql import Observation

    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again").alias("text"),
    )
    obs = Observation("lsh_cap")
    cand = dedup.minhash_lsh_candidates(
        df, "doc_id", num_hashes=16, bands=4,
        max_bucket_size=100, observation=obs,
    )
    rows = cand.collect()
    # star pairing: every member pairs to the bucket min (doc 0) only
    assert len(rows) == n - 1
    assert all(r["id_a"] == 0 for r in rows)
    assert all(r["n_shared_bands"] == 4 for r in rows)
    m = obs.get
    assert m["clipped_buckets"] == 4 and m["max_bucket"] == n


def test_simhash_bucket_cap_star_pairs(spark):
    from pyspark.sql import Observation

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate page body text here").alias("text"),
    )
    obs = Observation("simhash_cap")
    pairs = dedup.simhash_near_duplicates(
        df, "doc_id", max_hamming=3, max_bucket_size=50, observation=obs,
    ).collect()
    assert len(pairs) == n - 1
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in pairs)
    m = obs.get
    assert m["clipped_buckets"] == 4 and m["max_bucket"] == n


def test_bucket_cap_components_unchanged(spark, docs):
    """Star pairs are component-equivalent: clustering capped candidates
    yields the same duplicate clusters as clustering uncapped ones."""
    uncapped = dedup.minhash_lsh_candidates(
        docs, "doc_id", num_hashes=32, bands=16, max_bucket_size=None
    )
    capped = dedup.minhash_lsh_candidates(
        docs, "doc_id", num_hashes=32, bands=16, max_bucket_size=2
    )
    c_un = {(r["doc_id"], r["cluster_id"])
            for r in dedup.duplicate_clusters(uncapped).collect()}
    c_cap = {(r["doc_id"], r["cluster_id"])
             for r in dedup.duplicate_clusters(capped).collect()}
    assert c_un == c_cap


def test_verified_jaccard_broadcast_is_conditional(spark, docs):
    """The pair-list join follows the session's size rule: with the
    threshold forced to 1 byte nothing qualifies, so the plan may not
    contain a broadcast for the pair join; at the default threshold the
    small pair list's join runs as a BroadcastHashJoin."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        dup = dedup.minhash_lsh_duplicates(docs, "doc_id", threshold=0.5,
                                           num_hashes=16, bands=8)
        plan = dup._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    dup = dedup.minhash_lsh_duplicates(docs, "doc_id", threshold=0.5,
                                       num_hashes=16, bands=8)
    dup.collect()
    plan = dup._sc._jvm.PythonSQLUtils.explainString(
        dup._jdf.queryExecution(), "formatted"
    )
    import re
    final = plan.split("== Initial Plan ==")[0]
    bhj_keys = [
        re.search(rf"\({i}\) BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[(\w+)#",
                  plan).group(1)
        for i in re.findall(r"BroadcastHashJoin \w+ Build\w+ \((\d+)\)", final)
    ]
    assert "id_a" in bhj_keys


def test_sample_corpus_deterministic_and_nested(spark):
    from data2neo_spark.operators.corpus import sample_corpus, train_test_split

    docs = spark.range(2000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
    )
    s20 = {r["doc_id"] for r in sample_corpus(docs, rate=0.2, seed=7).collect()}
    s10 = {r["doc_id"] for r in sample_corpus(docs, rate=0.1, seed=7).collect()}
    assert s10 <= s20                       # nested at the same seed
    assert abs(len(s20) - 400) < 80         # ~rate
    again = {r["doc_id"] for r in sample_corpus(docs, rate=0.2, seed=7).collect()}
    assert again == s20                     # order-free determinism
    # per-group mixture rates; absent groups drop
    mixed = sample_corpus(docs, rates_by="lang", rates={"en": 1.0}, seed=7)
    assert {r["lang"] for r in mixed.collect()} == {"en"}
    split = train_test_split(docs, test_rate=0.25, seed=3)
    frac = split.where("split = 'test'").count() / 2000
    assert 0.18 < frac < 0.32
    # a doc's split never changes when other docs are added
    sub = train_test_split(docs.where("doc_id < 100"), test_rate=0.25, seed=3)
    full = {r["doc_id"]: r["split"] for r in split.collect()}
    assert all(full[r["doc_id"]] == r["split"] for r in sub.collect())


def test_pack_sequences_invariants(spark):
    from data2neo_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(10),
        "text": [" ".join(["w"] * n) for n in [3, 5, 2, 8, 1, 4, 6, 2, 7, 3]],
    }))
    rows = {r["doc_id"]: r for r in pack_sequences(docs, "doc_id", budget=10).collect()}
    # python reference cumsum
    toks = [3, 5, 2, 8, 1, 4, 6, 2, 7, 3]
    cum = 0
    for i, n in enumerate(toks):
        assert rows[i]["n_tokens"] == n
        assert rows[i]["cum_before"] == cum
        assert rows[i]["seq_id"] == cum // 10
        assert rows[i]["offset_in_seq"] == cum % 10
        cum += n
    # bucket-count independence: 1 vs 7 logical buckets, identical output
    a = sorted(map(tuple, pack_sequences(docs, "doc_id", 10, n_buckets=1).collect()))
    b = sorted(map(tuple, pack_sequences(docs, "doc_id", 10, n_buckets=7).collect()))
    assert a == b
    # bpe variant runs and counts with the tokenizer
    from data2neo_spark.operators import bpe as _bpe
    ranks = {p: i for i, p in enumerate(_bpe.default_merges())}
    got = pack_sequences(docs, "doc_id", 10, tokenizer="bpe").collect()
    assert all(r["n_tokens"] == len(_bpe.encode_word("w", ranks)) * toks[r["doc_id"]]
               for r in got)


def test_pack_sequences_many_buckets_flat_plan(spark):
    """n_buckets ≫ 100 switches the bucket offsets from a chained CASE to
    a broadcast join: the optimized plan contains no deep CaseWhen chain,
    and the output is unchanged (bucket-count invariance at K=10⁴)."""
    from data2neo_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(200),
        "text": [" ".join(["w"] * (1 + i % 9)) for i in range(200)],
    }))
    small = sorted(map(tuple, pack_sequences(docs, "doc_id", 16, n_buckets=4).collect()))
    big_df = pack_sequences(docs, "doc_id", 16, n_buckets=10_000)
    plan = big_df._jdf.queryExecution().optimizedPlan().toString()
    # the offsets arrive via a join, not a 10⁴-deep CASE expression
    assert plan.count("CASE WHEN") < 100
    assert sorted(map(tuple, big_df.collect())) == small


def test_quantize_embeddings_roundtrip(spark):
    from data2neo_spark.operators.similarity import (
        cosine_topk, quantize_embeddings,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = {r["vec_id"]: r for r in quantize_embeddings(emb, "vec_id").collect()}
    raw = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for vid, row in list(q.items())[:50]:
        maxabs = max(abs(x) for x in raw[vid])
        assert row["scale_micro"] == int(maxabs * 1_000_000 // 1)
        assert all(-128 <= v <= 127 for v in row["q"])
        # dequantized values within one quantization step of the original
        for orig, qi in zip(raw[vid], row["q"]):
            deq = qi * maxabs / 127
            assert abs(deq - orig) <= maxabs / 127 + 1e-9
    # zero vector edge
    z = spark.createDataFrame([(0, [0.0, 0.0])], "vec_id long, embedding array<float>")
    r = quantize_embeddings(z, "vec_id").collect()[0]
    assert r["q"] == [0, 0] and r["scale_micro"] == 0


def test_degree_stats_hubs(spark):
    from data2neo_spark.operators.graph import degree_stats

    edges = spark.createDataFrame(pd.DataFrame({
        "src": [1, 1, 1, 2, 3],
        "dst": [9, 9, 8, 9, 8],
    }))
    got = {(r["direction"], r["rank"]): (r["node"], r["degree"])
           for r in degree_stats(edges, top_k=2).collect()}
    assert got[("out", 1)] == (1, 3)
    assert got[("in", 1)] == (9, 3)
    assert got[("in", 2)] == (8, 2)


def test_incremental_near_duplicates(spark, docs):
    """New-batch vs existing-corpus dedup: candidates come only from
    cross-frame bucket collisions (no corpus self-pairing), verified with
    exact Jaccard."""
    corpus = docs                       # ids 0..4
    new = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100, 101],
        "text": [
            "the quick brown fox jumps over the lazy dog",   # dup of 0/1
            "totally novel content nothing like the corpus at all",
        ],
    }))
    got = dedup.incremental_near_duplicates(
        new, corpus, "doc_id", threshold=0.5, num_hashes=32, bands=16
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert (100, 0) in pairs and pairs[(100, 0)] == 1.0
    assert (100, 1) in pairs
    assert not any(a == 101 for a, _b in pairs)
    # no corpus-corpus or new-new pairs ever
    assert all(a >= 100 and b < 100 for a, b in pairs)


def test_incremental_bucket_cap(spark):
    """A degenerate corpus bucket links a new doc to at most
    max_bucket_size corpus ids (enough to flag the dup, linear width)."""
    corpus = spark.range(500).selectExpr(
        "id AS doc_id",
        "'same boilerplate page text repeated here word' AS text",
    )
    new = spark.createDataFrame(pd.DataFrame({
        "doc_id": [9999],
        "text": ["same boilerplate page text repeated here word"],
    }))
    cand = dedup.minhash_lsh_candidates_between(
        new, corpus, "doc_id", num_hashes=16, bands=4, max_bucket_size=10
    ).collect()
    ids = {r["corpus_id"] for r in cand}
    assert len(ids) == 10               # capped, sorted-prefix of the bucket
    assert ids == set(range(10))


def test_pack_sequences_rejects_non_integer_id(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "text": ["w"]}))
    from data2neo_spark.operators.text import pack_sequences
    with pytest.raises(ValueError, match="integer id"):
        pack_sequences(df, "k", 10)


def test_normalize_text(spark):
    from data2neo_spark.operators.text import normalize_text

    rows = [
        (0, " Cafe\u0301\u200b\ttext  here\u3000"),   # NFC + zw + ws
        (1, "plain text"),
        (2, "a\u00a0b\x07c"),                            # nbsp + control
        (3, None),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["i", "text"]))
    got = {r["i"]: r["text_norm"] for r in normalize_text(df).collect()}
    assert got[0] == "Caf\u00e9 text here"
    assert got[1] == "plain text"
    assert got[2] == "a b c"
    assert got[3] is None
    # idempotent
    df2 = spark.createDataFrame(pd.DataFrame({"i": [0], "text": [got[0]]}))
    assert normalize_text(df2).collect()[0]["text_norm"] == got[0]


def test_phash_near_duplicates(spark):
    """Planted twins (same texture, sparse +3 perturbation) land within a
    small Hamming distance; unrelated textures stay far — and the blocked
    join finds exactly the brute-force answer (pigeonhole recall)."""
    imgs = multimodal.synth_images(spark, n=40).coalesce(2)
    sig = {r["media_id"]: r["phash"]
           for r in multimodal.with_phash(imgs).collect()}
    assert len(sig) == 40 and all(v is not None for v in sig.values())

    def ham(a, b):
        return bin(a ^ b).count("1")

    for k in range(20):
        assert ham(sig[2 * k], sig[2 * k + 1]) <= 4
    brute = {(a, b) for a in sig for b in sig
             if a < b and ham(sig[a], sig[b]) <= 12}
    got = {(r["id_a"], r["id_b"])
           for r in multimodal.phash_near_duplicates(imgs, max_hamming=12).collect()}
    assert got == brute
    assert all((2 * k, 2 * k + 1) in got for k in range(20))


def test_phash_python_reference():
    """phash_py is invariant to constant brightness shifts that don't wrap
    (AC coefficients unchanged) and sensitive to texture changes."""
    w = h = 16
    base = bytes((x * 11 + y * 17 + ((x * y) % 5) * 23) % 200
                 for y in range(h) for x in range(w))
    shifted = bytes(v + 40 for v in base)            # no wraparound
    other = bytes((x * 5 + y * 29 + ((x + y) % 7) * 31) % 200
                  for y in range(h) for x in range(w))
    h0 = multimodal.phash_py(w, h, 1, base)
    h1 = multimodal.phash_py(w, h, 1, shifted)
    h2 = multimodal.phash_py(w, h, 1, other)
    assert h0 == h1                                   # brightness-invariant
    assert bin(h0 ^ h2).count("1") > 8                # texture-sensitive
    assert 0 <= h0 < (1 << 63)


def test_clean_corpus_url_and_normalize(spark):
    """The extended chain: NFC normalization rewrites text before gates
    (decomposed é counts as a letter word) and the url gate drops
    blocklisted eTLD+1 rows; report carries the url stage."""
    from data2neo_spark.operators.corpus import clean_corpus

    import pandas as pd
    long_en = "the quick brown fox jumps over the lazy dog and more words here"
    rows = [
        (0, long_en, "https://a.good.com/x"),
        (1, long_en + " extra", "https://b.spam.com/y"),     # blocklisted
        (2, "café " + long_en, "https://c.good.co.uk/z"),  # NFC target
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "url"]))
    blk = spark.createDataFrame([("spam.com",)], "domain string")
    kept, report = clean_corpus(
        docs, min_words=5, normalize=True, url_col="url",
        domain_blocklist=blk,
    )
    out = {r["doc_id"]: r for r in kept.collect()}
    assert set(out) == {0, 2}
    # normalized text comes back composed (single codepoint é)
    assert "café" in out[2]["text"]
    rep = {r["stage"]: (r["rows_in"], r["rows_out"]) for r in report.collect()}
    assert rep["url"] == (3, 2)


def test_wav_sample_decode():
    """decode_wav_samples parses real PCM payloads: 16-bit signed LE with
    an extra chunk before data, 8-bit unsigned rebased, non-PCM raises."""
    import struct

    def wav(bits, data, channels=1, rate=8000, tag=1):
        fmt = struct.pack("<HHIIHH", tag, channels, rate,
                          rate * channels * (bits // 8),
                          channels * (bits // 8), bits)
        extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
        return (b"RIFF" + struct.pack("<I", 36 + 4 + 8 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt + extra
                + b"data" + struct.pack("<I", len(data)) + data)

    vals = [0, 1000, -1000, 32767, -32768]
    b16 = wav(16, struct.pack("<5h", *vals))
    rate, ch, bits, samples = multimodal.decode_wav_samples(b16)
    assert (rate, ch, bits, samples) == (8000, 1, 16, vals)
    st = multimodal.audio_stats(b16)
    assert st["n_samples"] == 5 and st["peak"] == 32768
    assert st["sum_sq"] == sum(v * v for v in vals)

    b8 = wav(8, bytes([128, 255, 0]))
    assert multimodal.decode_wav_samples(b8)[3] == [0, 127, -128]

    with pytest.raises(ValueError):
        multimodal.decode_wav_samples(wav(16, b"\x00\x00", tag=3))  # float
    assert multimodal.decode_wav_samples(b"\x89PNG") is None
    # header-only (synth_media audio rows): zero samples, stats None
    hdr_only = wav(16, b"")
    assert multimodal.decode_wav_samples(hdr_only)[3] == []
    assert multimodal.audio_stats(hdr_only) is None


def test_synth_audio_roundtrip(spark):
    """synth_audio emits REAL s16le PCM; decode recovers the exact sample
    formula values."""
    rows = multimodal.synth_audio(spark, n=20).collect()
    for r in rows[:8]:
        mid = r.media_id
        rate, ch, bits, samples = multimodal.decode_wav_samples(bytes(r.payload))
        assert (rate, ch, bits) == (8000 + (mid % 5) * 4000, 1, 16)
        nf = (mid % 25) * 4 + 4
        assert samples == [((mid * 73 + k * 129) % 4096) - 2048
                           for k in range(nf)]


def test_image_exact_duplicates_reencoded(spark):
    """Pixel-level dedup groups an image with its re-encoding (filter-0 vs
    Sub scanlines: different bytes, identical pixels) — the case byte
    hashing misses; twins (perturbed pixels) stay separate."""
    a = multimodal.synth_images(spark, n=20)
    b = multimodal.synth_images(spark, n=20, filter_mode="sub", id_offset=1000)
    both = a.unionByName(b)
    # byte-level: all 40 payloads distinct
    assert both.select("payload").distinct().count() == 40
    groups = multimodal.image_exact_duplicates(both).collect()
    assert len(groups) == 20
    assert all(r["n_dups"] == 2 and r["keeper_id"] < 1000 for r in groups)


def test_png_decode_palette_and_low_depth():
    """Palette (PLTE-mapped, 8- and 4-bit indices) and 1-bit greyscale
    PNGs decode to 8-bit-per-sample buffers."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    def png(w, h, depth, ctype_code, raw, plte=None):
        ihdr = struct.pack(">II", w, h) + bytes([depth, ctype_code, 0, 0, 0])
        parts = [b"\x89PNG\r\n\x1a\n", chunk(b"IHDR", ihdr)]
        if plte is not None:
            parts.append(chunk(b"PLTE", plte))
        parts.append(chunk(b"IDAT", zlib.compress(bytes(raw))))
        parts.append(chunk(b"IEND", b""))
        return b"".join(parts)

    # 8-bit palette, 2x2: indices 0..3 -> distinct RGB entries
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
    raw = bytes([0, 0, 1, 0, 2, 3])              # filter0 rows: [0,1],[2,3]
    w_, h_, ch, px = multimodal.decode_png_pixels(png(2, 2, 8, 3, raw, plte))
    assert (w_, h_, ch) == (2, 2, 3)
    assert bytes(px) == bytes([255,0,0, 0,255,0, 0,0,255, 7,8,9])

    # 4-bit palette, 3 wide (packed 2 per byte, padded): indices 1,0,2
    raw4 = bytes([0, 0x10, 0x20])
    _, _, ch, px = multimodal.decode_png_pixels(png(3, 1, 4, 3, raw4, plte))
    assert ch == 3 and bytes(px) == bytes([0,255,0, 255,0,0, 0,0,255])

    # 1-bit greyscale, 10 wide (pattern 1010101010 -> bytes AA 80)
    raw1 = bytes([0, 0xAA, 0x80])
    _, _, ch, px = multimodal.decode_png_pixels(png(10, 1, 1, 0, raw1))
    assert ch == 1 and list(px) == [255, 0] * 5

    # 2-bit greyscale scales 0..3 -> 0,85,170,255
    raw2 = bytes([0, 0b00011011])
    _, _, _, px = multimodal.decode_png_pixels(png(4, 1, 2, 0, raw2))
    assert list(px) == [0, 85, 170, 255]

    # Sub filter on a palette row still unfilters at byte level
    raw_sub = bytes([1, 5, 254])                  # 5, then 5+254=3 (mod 256)
    plte_big = bytes(range(256)) * 3
    p = png(2, 1, 8, 3, raw_sub, bytes([v for i in range(256) for v in (i, i, i)]))
    _, _, _, px = multimodal.decode_png_pixels(p)
    assert list(px) == [5, 5, 5, 3, 3, 3]

    # 16-bit still raises, palette without PLTE raises
    ihdr16 = png(2, 1, 8, 0, bytes([0, 1, 2]))
    with pytest.raises(ValueError):
        multimodal.decode_png_pixels(png(2, 1, 16, 0, bytes(5)))
    with pytest.raises(ValueError):
        multimodal.decode_png_pixels(png(2, 2, 8, 3, raw))


def test_png_adam7_interlace_decode():
    """Adam7-interlaced PNGs decode identically to their non-interlaced
    twins — a hand-built encoder splits the image into the seven passes
    (filter-0 rows) and the decoder scatters them back."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

    for w, h, ch in [(10, 9, 1), (8, 8, 3), (5, 3, 1), (1, 1, 1)]:
        pix = [(x * 31 + y * 7 + c * 13) % 256
               for y in range(h) for x in range(w) for c in range(ch)]
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for r in range(ph):
                raw.append(0)
                y = y0 + r * dy
                for pcol in range(pw):
                    x = x0 + pcol * dx
                    off = (y * w + x) * ch
                    raw += bytes(pix[off:off + ch])
        color = {1: 0, 3: 2}[ch]
        ihdr = struct.pack(">II", w, h) + bytes([8, color, 0, 0, 1])
        png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(bytes(raw)))
               + chunk(b"IEND", b""))
        gw, gh, gch, got = multimodal.decode_png_pixels(png)
        assert (gw, gh, gch) == (w, h, ch), (w, h, ch)
        assert list(got) == pix, (w, h, ch)


# ---------------------------------------------------------------------------
# product-quantization ANN
# ---------------------------------------------------------------------------

def _pq_replay(vecs, m, n_codes, qmax, k):
    """Pure-python PQ replay (rows codebooks): the ground truth the Spark
    plan must reproduce bit-for-bit."""
    import math

    micro = [[math.floor(x * 1_000_000) for x in v] for v in vecs]
    s = len(vecs[0]) // m
    books = [[micro[c][j * s:(j + 1) * s] for c in range(n_codes)]
             for j in range(m)]

    def d(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    codes = {
        i: [min(range(n_codes),
                key=lambda c: (d(v[j * s:(j + 1) * s], books[j][c]), c))
            for j in range(m)]
        for i, v in enumerate(micro)
    }
    out = []
    for q in range(qmax):
        dt = [[d(micro[q][j * s:(j + 1) * s], books[j][c])
               for c in range(n_codes)] for j in range(m)]
        scored = sorted(
            (sum(dt[j][codes[n][j]] for j in range(m)), n)
            for n in range(len(vecs)) if n != q
        )
        out.extend((q, n, dd, r) for r, (dd, n) in enumerate(scored[:k], 1))
    return out


def test_pq_ann_topk_rows_matches_python_replay(spark):
    vecs = [[((i * 7 + j * 3) % 13) * 0.25 for j in range(8)]
            for i in range(20)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id: long, embedding: array<double>"
    )
    got = sorted(
        tuple(r) for r in similarity.pq_ann_topk(
            df, "vec_id", "embedding", dim=8, query_max_id=2, k=3,
            m=4, n_codes=4, codebook_strategy="rows",
        ).collect()
    )
    assert got == sorted(_pq_replay(vecs, m=4, n_codes=4, qmax=2, k=3))


def test_pq_ann_topk_kmeans_shape_and_self_exclusion(spark):
    vecs = [[((i * 5 + j) % 11) * 0.5 for j in range(8)] for i in range(16)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id: long, embedding: array<double>"
    )
    rows = similarity.pq_ann_topk(
        df, "vec_id", "embedding", dim=8, query_max_id=3, k=5,
        m=2, n_codes=4, codebook_strategy="kmeans", sample_size=16,
    ).collect()
    by_q = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, 6))


def test_pq_ann_topk_rejects_bad_args(spark):
    df = spark.createDataFrame([(0, [0.0] * 8)], "vec_id: long, embedding: array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_ann_topk(df, "vec_id", "embedding", dim=8, query_max_id=1, m=3)
    with pytest.raises(ValueError, match="codebook_strategy"):
        similarity.pq_ann_topk(
            df, "vec_id", "embedding", dim=8, query_max_id=1,
            codebook_strategy="nope",
        )


# ---------------------------------------------------------------------------
# corpus-level duplicate-line removal
# ---------------------------------------------------------------------------

def test_remove_duplicate_lines_corpus_none_and_first(spark):
    df = spark.createDataFrame(
        [(0, "u0\nshared\nfoo"), (1, "u1\nshared\nbar\nshared"),
         (2, "unique only")],
        "doc_id: long, text: string",
    )
    none = {
        r["doc_id"]: (r["text_cleaned"], r["n_lines_removed"])
        for r in text.remove_duplicate_lines_corpus(df, "doc_id").collect()
    }
    assert none[0] == ("u0\nfoo", 1)
    assert none[1] == ("u1\nbar", 2)
    assert none[2] == ("unique only", 0)

    first = {
        r["doc_id"]: (r["text_cleaned"], r["n_lines_removed"])
        for r in text.remove_duplicate_lines_corpus(
            df, "doc_id", keep="first"
        ).collect()
    }
    assert first[0] == ("u0\nshared\nfoo", 0)  # globally-first kept
    assert first[1] == ("u1\nbar", 2)
    assert first[2] == ("unique only", 0)

    with pytest.raises(ValueError, match="keep"):
        text.remove_duplicate_lines_corpus(df, "doc_id", keep="last")


# ---------------------------------------------------------------------------
# bigram language model
# ---------------------------------------------------------------------------

def test_bigram_lm_model_and_scores(spark):
    df = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x"), (2, "solo")],
        "doc_id: long, text: string",
    )
    model = {
        (r["w1"], r["w2"]): (r["c2"], r["c1"], r["cond_ppm"], r["bits"])
        for r in text.train_bigram_lm(df).collect()
    }
    assert model == {
        ("a", "b"): (3, 3, 1_000_000, 0),
        ("b", "a"): (1, 3, 333_333, 1),
        ("b", "c"): (1, 3, 333_333, 1),
        ("b", "x"): (1, 3, 333_333, 1),
    }
    scores = {
        r["doc_id"]: (r["n_bigrams"], r["avg_cond_ppm"], r["sum_bigram_bits"])
        for r in text.with_bigram_lm_scores(df, "doc_id").collect()
    }
    # doc 2 has a single word -> no bigrams -> drops out
    assert scores == {0: (4, 666_666, 2), 1: (2, 666_666, 1)}


# ---------------------------------------------------------------------------
# contextual entity disambiguation
# ---------------------------------------------------------------------------

def test_link_entities_contextual(spark):
    from data2neo_spark.pipeline.webtext import link_entities_contextual

    docs = spark.createDataFrame(
        [(0, "spark query join batch"), (1, "spark fast slow row"),
         (2, "spark sun"), (3, "no entities here"),
         (4, "spark window query sort")],
        "doc_id: long, text: string",
    )
    cands = spark.createDataFrame(
        [("spark", 1, "Apache_Spark", 5, "query join shuffle batch stream"),
         ("spark", 2, "Spark_Plug", 3, "fast slow part row"),
         ("spark", 3, "Spark_Bird", 5, "tree wing"),
         ("window", 10, "Window_Function", 2, "query sort order agg"),
         ("window", 11, "Window_Glass", 2, "glass pane house")],
        "surface: string, entity_id: long, canonical: string, prior: long, desc: string",
    )
    got = {
        (r["doc_id"], r["surface"]): (r["entity_id"], r["score"])
        for r in link_entities_contextual(
            docs, cands, prior_weight=1, overlap_weight=3
        ).collect()
    }
    assert got == {
        # context beats prior: 3 desc terms overlap
        (0, "spark"): (1, 5 + 9),
        # lower-prior candidate wins on context
        (1, "spark"): (2, 3 + 9),
        # no context anywhere: equal-scoring tie -> smallest entity_id
        (2, "spark"): (1, 5),
        # two surfaces in one doc, each disambiguated independently
        (4, "spark"): (1, 5 + 3),
        (4, "window"): (10, 2 + 6),
    }


def _ivfpq_replay(vecs, n_cells, n_probe, m, n_codes, qmax, k):
    """Pure-python IVFADC replay (rows quantizers) — the integer ground
    truth for the Spark plan."""
    import math

    micro = [[math.floor(x * 1_000_000) for x in v] for v in vecs]
    cents = micro[:n_cells]
    s = len(vecs[0]) // m

    def l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def cellrank(v):
        return sorted(range(n_cells), key=lambda c: (l2(v, cents[c]), c))

    res_rows = []
    for v in micro[:n_codes]:
        c = cellrank(v)[0]
        res_rows.append([x - y for x, y in zip(v, cents[c])])
    books = [[r[j * s:(j + 1) * s] for r in res_rows] for j in range(m)]
    cellof = {i: cellrank(v)[0] for i, v in enumerate(micro)}

    def resid(v, c):
        return [x - y for x, y in zip(v, cents[c])]

    codes = {}
    for i, v in enumerate(micro):
        r = resid(v, cellof[i])
        codes[i] = [
            min(range(n_codes),
                key=lambda c: (l2(r[j * s:(j + 1) * s], books[j][c]), c))
            for j in range(m)
        ]
    out = []
    for q in range(qmax):
        cand = []
        for pc in cellrank(micro[q])[:n_probe]:
            r = resid(micro[q], pc)
            dt = [[l2(r[j * s:(j + 1) * s], books[j][c])
                   for c in range(n_codes)] for j in range(m)]
            cand.extend(
                (sum(dt[j][codes[n][j]] for j in range(m)), n)
                for n, cl in cellof.items() if cl == pc and n != q
            )
        out.extend((q, n, dd, rk)
                   for rk, (dd, n) in enumerate(sorted(cand)[:k], 1))
    return out


def test_ivfpq_ann_topk_matches_python_replay(spark):
    vecs = [[((i * 7 + j * 3) % 13) * 0.25 - 1.0 for j in range(8)]
            for i in range(24)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    got = sorted(
        tuple(r) for r in similarity.ivfpq_ann_topk(
            df, "vec_id", "embedding", dim=8, query_max_id=2, k=4,
            n_cells=4, n_probe=2, m=4, n_codes=8,
        ).collect()
    )
    want = sorted(_ivfpq_replay(vecs, n_cells=4, n_probe=2, m=4,
                                n_codes=8, qmax=2, k=4))
    assert got == want


def test_ivfpq_ann_topk_rejects_bad_dim(spark):
    df = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ivfpq_ann_topk(df, "vec_id", "embedding", dim=8,
                                  query_max_id=1, m=3)


# ---------------------------------------------------------------------------
# entity-name resolution (SymSpell delete-1 blocking + levenshtein verify)
# ---------------------------------------------------------------------------

def test_name_near_duplicates_exact_recall(spark):
    from data2neo_spark.operators import entities

    rows = [
        (1, "acme corp"), (2, "acme corpX"),   # d=1 (insertion)
        (3, "acme korp"),                       # d=1 vs 1 (substitution)
        (4, "acme"), (5, "acme"),               # d=0 (identical)
        (6, "zzz unrelated"),
        (7, "amce corp"),                       # d=2 vs 1 (transposition) -> NOT found
    ]
    df = spark.createDataFrame(rows, "ent_id: long, name: string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in entities.name_near_duplicates(df, "ent_id", "name").collect()
    }
    # brute-force ground truth at d<=1
    import itertools
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]
    want = {
        (a, b): lev(na, nb)
        for (a, na), (b, nb) in itertools.combinations(rows, 2)
        if lev(na, nb) <= 1
    }
    assert got == want
    assert (1, 2) in got and (1, 3) in got and (4, 5) in got
    assert not any(7 in p for p in got)


def test_name_near_duplicates_bucket_cap_star(spark):
    from data2neo_spark.operators import entities

    # 5 identical names: exact mode -> all 10 pairs; cap=2 -> star pairs
    df = spark.createDataFrame(
        [(i, "same") for i in range(5)], "ent_id: long, name: string"
    )
    exact = entities.name_near_duplicates(df, "ent_id", "name").collect()
    assert len(exact) == 10
    starred = entities.name_near_duplicates(
        df, "ent_id", "name", max_bucket_size=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in starred} == {
        (0, 1), (0, 2), (0, 3), (0, 4)
    }


def test_canonicalize_names_transitive(spark):
    from data2neo_spark.operators import entities

    # chain: ab ~ ax ~ xx (ab-xx is d=2, still same cluster transitively)
    df = spark.createDataFrame(
        [(10, "ab"), (11, "ax"), (12, "xx"), (13, "qqqq")],
        "ent_id: long, name: string",
    )
    got = {
        r["ent_id"]: (r["canonical_id"], r["canonical_name"])
        for r in entities.canonicalize_names(df, "ent_id", "name").collect()
    }
    assert got == {
        10: (10, "ab"), 11: (10, "ab"), 12: (10, "ab"), 13: (13, "qqqq")
    }


def test_scd2_intervals(spark):
    from data2neo_spark.operators.temporal import scd2_intervals
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, s)
    obs = spark.createDataFrame(
        [
            ("u1", t(1), "A"), ("u1", t(2), "A"), ("u1", t(3), "B"),
            ("u1", t(5), "B"), ("u1", t(8), "A"),
            ("u2", t(4), "X"),
        ],
        "user string, ts timestamp, state string",
    )
    out = scd2_intervals(obs, ["user"], ["state"], "ts")
    rows = {(r.user, r.valid_from.day): (r.state, r.valid_to.day if r.valid_to else None, r.n_obs)
            for r in out.collect()}
    # consecutive identical observations collapse; re-appearing value opens
    # a NEW interval (A,B,A = three intervals, not two)
    assert rows[("u1", 1)] == ("A", 3, 2)
    assert rows[("u1", 3)] == ("B", 8, 2)
    assert rows[("u1", 8)] == ("A", None, 1)
    assert rows[("u2", 4)] == ("X", None, 1)


def test_scd2_same_ts_tie_and_single_shuffle(spark):
    from data2neo_spark.operators.temporal import scd2_intervals
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    obs = spark.createDataFrame(
        [("u", t, "B"), ("u", t, "A")], "user string, ts timestamp, state string"
    )
    out = scd2_intervals(obs, ["user"], ["state"], "ts")
    # one exchange total: windows, version groupBy, and lead all reuse the
    # key partitioning (assert pre-action — the post-AQE string repeats
    # the original plan under the materialized stage)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    rows = sorted((r.state, r.n_obs) for r in out.collect())
    # same-ts ties order by value tuple: A opens first, B follows
    assert rows == [("A", 1), ("B", 1)]


def test_cooccurrence_edges(spark):
    from data2neo_spark.operators.graph import cooccurrence_edges

    df = spark.createDataFrame(
        [("g1", 1), ("g1", 2), ("g1", 3), ("g2", 2), ("g2", 3),
         ("g2", 3)],  # duplicate mention collapses
        "g string, item long",
    )
    out = {(r.a, r.b): r.weight for r in
           cooccurrence_edges(df, "g", "item").collect()}
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 2}
    # cap keeps the LOWEST items per group: g1 capped to {1,2}
    capped = {(r.a, r.b): r.weight for r in
              cooccurrence_edges(df, "g", "item", max_group_size=2).collect()}
    assert capped == {(1, 2): 1, (2, 3): 1}


def test_triangle_counts_k4_plus_path(spark):
    from data2neo_spark.operators.graph import triangle_counts
    import itertools

    k4 = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)]
    path = [(10, 11), (11, 12)]
    # reversed/duplicate/self edges must canonicalize away
    edges = spark.createDataFrame(
        k4 + path + [(2, 1), (3, 3)], "src long, dst long"
    )
    out = {r.node: (r.degree, r.triangles) for r in
           triangle_counts(edges).collect()}
    assert all(out[n] == (3, 3) for n in [1, 2, 3, 4])
    assert out[10] == (1, 0) and out[11] == (2, 0) and out[12] == (1, 0)
    # total triangles = sum/3 = 4 (every K4 triple)
    assert sum(t for _, t in out.values()) == 12


def test_triangle_counts_hub_star(spark):
    from data2neo_spark.operators.graph import triangle_counts

    # star hub + one closing edge: exactly one triangle; the hub's pivot
    # out-degree stays tiny under degree orientation (scale contract)
    star = [(0, i) for i in range(1, 30)] + [(1, 2)]
    edges = spark.createDataFrame(star, "src long, dst long")
    out = {r.node: r.triangles for r in triangle_counts(edges).collect()}
    assert out[0] == 1 and out[1] == 1 and out[2] == 1
    assert sum(out.values()) == 3


def test_extract_svo_patterns(spark):
    from data2neo_spark.operators.relations import extract_svo

    docs = spark.createDataFrame(
        [
            (1, "Acme acquired Beta. Gamma is based in Paris."),
            (2, "noise only, nothing here"),
            (3, "X founded Y and X founded Y"),  # distinct collapses
            (4, "Jo, chief executive of Acme, spoke."),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.subj, r.pred, r.obj) for r in extract_svo(docs).collect()}
    assert out == {
        (1, "Acme", "ACQUIRED", "Beta"),
        (1, "Gamma", "BASED_IN", "Paris"),
        (3, "X", "FOUNDED", "Y"),
        (4, "Jo", "CEO_OF", "Acme"),
    }


def test_extract_svo_custom_patterns_and_plan(spark):
    from data2neo_spark.operators.relations import extract_svo

    docs = spark.createDataFrame(
        [(1, "a likes b, c likes d")], "doc_id long, text string"
    )
    out = extract_svo(docs, patterns=[("LIKES", r"(\w+) likes (\w+)")])
    # zero shuffles before the final distinct (pre-action plan: the
    # post-AQE string repeats the original plan under the final one)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    rows = {(r.subj, r.obj) for r in out.collect()}
    assert rows == {("a", "b"), ("c", "d")}


def test_sessionize_boundaries_and_single_shuffle(spark):
    from data2neo_spark.operators.temporal import session_stats, sessionize
    import datetime as dt
    import re

    t0 = dt.datetime(2024, 1, 1)
    s = lambda secs: t0 + dt.timedelta(seconds=secs)
    ev = spark.createDataFrame(
        [
            # u1: two events 10s apart, then a 1801s gap -> new session,
            # then exactly 1800s -> SAME session (boundary is strict >)
            (1, s(0), 100), (1, s(10), 101), (1, s(1811), 102), (1, s(3611), 103),
            # u2: single event
            (2, s(5), 200),
        ],
        "user_id long, ts timestamp, event_id long",
    )
    tagged = sessionize(ev, ["user_id"], "ts", 1800, order_cols=["event_id"])
    got = {r.event_id: r.session_seq for r in tagged.collect()}
    assert got == {100: 1, 101: 1, 102: 2, 103: 2, 200: 1}

    stats = session_stats(ev, ["user_id"], "ts", 1800, order_cols=["event_id"])
    plan = stats._jdf.queryExecution().executedPlan().toString()
    # lag flag, running sum, and the per-session aggregate all reuse ONE
    # exchange on user_id
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    rows = {(r.user_id, r.session_seq): (r.n_events, r.session_start, r.session_end)
            for r in stats.collect()}
    assert rows[(1, 1)] == (2, s(0), s(10))
    assert rows[(1, 2)] == (2, s(1811), s(3611))
    assert rows[(2, 1)] == (1, s(5), s(5))


def test_khop_reachability(spark):
    from data2neo_spark.operators.graph import khop_reachability

    # path graph 1-2-3-4-5 plus a triangle 1-2-6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    out = khop_reachability(edges, seeds, k=2, undirected=True)
    got = {(r.node): r.min_hops for r in out.collect()}
    # hop0: 1; hop1: 2 and 6 (6 via reversed edge); hop2: 3 (via 2) —
    # NOT 4/5 (3 hops away); 6 stays at 1 even though also 2 hops via 2
    assert got == {1: 0, 2: 1, 6: 1, 3: 2}

    # directed: 6->1 means 6 unreachable from 1 in 2 hops forward
    out_d = khop_reachability(edges, seeds, k=2)
    got_d = {r.node: r.min_hops for r in out_d.collect()}
    assert got_d == {1: 0, 2: 1, 3: 2, 6: 2}

    # k=0 returns only seeds; empty-frontier early exit
    only = khop_reachability(edges, seeds, k=0).collect()
    assert [(r.seed, r.node, r.min_hops) for r in only] == [(1, 1, 0)]
    far = khop_reachability(
        spark.createDataFrame([(7, 8)], "src long, dst long"), seeds, k=5
    )
    assert far.count() == 1  # frontier empties after hop 1


def test_hll_distinct_accuracy_and_merge(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.sketch import hll_distinct, hll_registers

    # 10k distinct values -> raw-estimate path; error well inside 3 sigma
    # (1.04/sqrt(256) ~ 6.5%)
    big = spark.range(10_000).select(F.col("id").cast("string").alias("v"))
    est = hll_distinct(big, "v", p=8).collect()[0]
    assert abs(est.est_distinct - 10_000) / 10_000 < 0.2

    # 30 distinct -> linear-counting small-range path, near-exact
    small = spark.range(30).select(F.col("id").cast("string").alias("v"))
    est_s = hll_distinct(small, "v", p=8).collect()[0]
    assert abs(est_s.est_distinct - 30) < 3

    # mergeability: registers of two halves, unioned + re-maxed, equal the
    # single-pass registers (sketch is a pure function of the value set)
    h1 = spark.range(0, 5_000).select(F.col("id").cast("string").alias("v"))
    h2 = spark.range(5_000, 10_000).select(F.col("id").cast("string").alias("v"))
    merged = (
        hll_registers(h1, "v", p=8)
        .unionAll(hll_registers(h2, "v", p=8))
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )
    single = hll_registers(big, "v", p=8)
    assert {(r.register, r.rho) for r in merged.collect()} == {
        (r.register, r.rho) for r in single.collect()
    }

    # p out of range
    import pytest as _pt
    with _pt.raises(ValueError):
        hll_registers(big, "v", p=2)


def test_countmin_upper_bound_and_merge(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.sketch import countmin_estimate, countmin_table

    # skewed corpus: value i repeated (i+1) times, i in [0, 100)
    vals = spark.range(100).select(
        F.col("id"), F.explode(F.sequence(F.lit(0), F.col("id"))).alias("rep")
    ).select(F.col("id").cast("string").alias("v"))
    tbl = countmin_table(vals, "v", depth=4, width=256)
    true = vals.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    est = countmin_estimate(tbl, true, "v", depth=4, width=256)
    joined = {r.value: r.est_count for r in est.collect()}
    for r in true.collect():
        assert joined[r.v] >= r.t  # classic upper-bound guarantee
        assert joined[r.v] <= r.t + 150  # collisions bounded (~N/width per row)

    # linearity: hash-split half-tables summed == full table
    a = vals.where(F.crc32(F.col("v")) % 2 == 0)
    b = vals.where(F.crc32(F.col("v")) % 2 == 1)
    merged = (
        countmin_table(a, "v", depth=2, width=64)
        .unionAll(countmin_table(b, "v", depth=2, width=64))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = countmin_table(vals, "v", depth=2, width=64)
    assert {(r.row, r.bucket, r.cnt) for r in merged.collect()} == {
        (r.row, r.bucket, r.cnt) for r in full.collect()
    }


def test_sample_weighted_proportionality_and_plan(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.corpus import sample_weighted

    # two weight classes: ids 0-499 weight 10, ids 500-4999 weight 1.
    # heavy class is 10% of rows but should win far more than 10% of a
    # 500-row sample (expected share ~ 10*500/(10*500+4500) ~ 53%)
    df = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 500, F.lit(10)).otherwise(F.lit(1)).alias("w"),
    )
    out = sample_weighted(df, "w", k=500, id_col="doc_id", seed=7)
    rows = out.collect()
    assert len(rows) == 500
    heavy = sum(1 for r in rows if r.doc_id < 500)
    assert heavy > 150  # >> the 50 a uniform sample would give

    # determinism + nested stability: same seed -> same set; independent
    # of partitioning
    again = {r.doc_id for r in
             sample_weighted(df.repartition(13), "w", k=500,
                             id_col="doc_id", seed=7).collect()}
    assert again == {r.doc_id for r in rows}

    # zero/null weights never sampled
    dfz = df.withColumn("w", F.when(F.col("doc_id") < 4_990, F.lit(0))
                        .otherwise(F.col("w")))
    assert sample_weighted(dfz, "w", k=500, id_col="doc_id").count() == 10

    # top-k plan, not a global sort: TakeOrderedAndProject
    plan = sample_weighted(df, "w", k=5, id_col="doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_trigram_lm_backoff_chain(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.text import (
        train_trigram_lm,
        with_trigram_lm_scores,
    )

    train = spark.createDataFrame(
        [(0, "a b c a b c"), (2, "a b d")], "doc_id long, text string"
    )
    # doc 1: "a b c" seen; "b c z" unseen trigram but (c,z) unseen bigram
    # too -> floor; "c z b" -> floor; "z b c" unseen trigram, (b,c) IS a
    # training bigram -> bigram backoff
    score = spark.createDataFrame(
        [(1, "a b c z b c")], "doc_id long, text string"
    )
    out = with_trigram_lm_scores(score, "doc_id", train_on=train).collect()[0]
    assert out.n_trigrams == 4
    assert out.n_backoff_bigram == 1
    assert out.n_backoff_floor == 2

    # model math: P(c|a,b) = 2/3 of the training trigram contexts (a b ->
    # c twice, a b -> d once) -> 666666 ppm
    m = {
        (r.w1, r.w2, r.w3): r.cond_ppm
        for r in train_trigram_lm(train).collect()
    }
    assert m[("a", "b", "c")] == 666666
    assert m[("a", "b", "d")] == 333333

    # exact score: seen tri 666666; bigram backoff (2*P(c|b))//5 where
    # P(c|b)=2/3 of b-contexts in train ("b c" x2, "b d" x1) -> 666666
    # -> 266666; two floors at 1 each
    assert out.avg_score_ppm == (666666 + 266666 + 1 + 1) // 4


def test_label_propagation_two_communities(spark):
    from data2neo_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge: LPA separates them even
    # though they are a single connected component
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    out = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    # hand-computed fixed point of the deterministic min-label tiebreak
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    assert len({out[1], out[4]}) == 2  # distinct communities


def test_validate_shapes(spark):
    from data2neo_spark import Converter
    from data2neo_spark.operators.validate import (
        shape_violation_summary,
        validate_edges,
    )
    import pandas as pd

    pdf = pd.DataFrame({"cid": [1, 1, 1, 2], "oid": [10, 11, 12, 13]})
    store = Converter(
        """
ENTITY("t"):
    NODE("Customer") c:
        + id = INT(t.cid)
    NODE("Order") o:
        + id = INT(t.oid)
    RELATIONSHIP(c, "PLACED", o):
""",
        [("t", spark.createDataFrame(pdf))],
    )(spark)

    rules = [{"pred": "PLACED", "src_label": "Customer",
              "dst_label": "Order", "max_out": 2}]
    rows = validate_edges(store, rules).collect()
    # only customer 1 (3 edges) violates the fan-out cap; types all valid
    assert [(r.kind, r.pred, r.entity, r.detail) for r in rows] == [
        ("max_out_degree", "PLACED", "Customer:1", "3 > 2")
    ]

    # wrong dst label: every edge violates; undeclared pred flags all
    bad = [{"pred": "PLACED", "src_label": "Customer", "dst_label": "Invoice"}]
    assert validate_edges(store, bad).count() == 4
    summary = {(r.kind, r.pred): r.n_violations
               for r in shape_violation_summary(store, []).collect()}
    assert summary == {("unknown_predicate", "PLACED"): 4}


def test_snapshot_asof(spark):
    from data2neo_spark.operators.temporal import scd2_intervals, snapshot_asof
    import datetime as dt

    t = lambda d: dt.datetime(2024, 1, d)
    obs = spark.createDataFrame(
        [("u1", t(1), "A"), ("u1", t(3), "B"), ("u1", t(8), "A"),
         ("u2", t(9), "X")],
        "user string, ts timestamp, state string",
    )
    hist = scd2_intervals(obs, ["user"], ["state"], "ts")
    # at Jan 5: u1 is in its B interval [3, 8); u2 not yet observed
    snap = {(r.user): r.state for r in snapshot_asof(hist, t(5)).collect()}
    assert snap == {"u1": "B"}
    # boundary: valid_to is EXCLUSIVE (at Jan 8 the new A interval rules)
    snap8 = {(r.user): r.state for r in snapshot_asof(hist, t(8)).collect()}
    assert snap8 == {"u1": "A"}
    # open intervals at the end cover any later ts
    snap99 = {(r.user): r.state
              for r in snapshot_asof(hist, dt.datetime(2025, 1, 1)).collect()}
    assert snap99 == {"u1": "A", "u2": "X"}


def test_profile_table(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.sketch import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 1.5), (3, None, -2.0), (4, "b", 0.0)],
        "id long, cat string, x double",
    )
    out = {r.column: r for r in profile_table(df).collect()}
    assert out["id"].n_nulls == 0 and out["cat"].n_nulls == 1
    assert out["x"].n_nulls == 1
    # native-typed min/max, stringified after (numeric, not lexicographic)
    assert (out["x"].min_value, out["x"].max_value) == ("-2.0", "1.5")
    assert (out["id"].min_value, out["id"].max_value) == ("1", "4")
    # tiny cardinalities hit the linear-counting path: near-exact
    assert abs(out["cat"].est_distinct - 2) < 0.5
    assert abs(out["id"].est_distinct - 4) < 0.5
    # column subset selection
    sub = profile_table(df, columns=["cat"]).collect()
    assert [r.column for r in sub] == ["cat"]


def test_harmonic_centrality(spark):
    from data2neo_spark.operators.graph import harmonic_centrality

    # path 1-2-3-4: from 1 within k=2 -> 2 at hop1, 3 at hop2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "seed long")
    out = {r.seed: (r.n_reached, r.harmonic_x60)
           for r in harmonic_centrality(edges, seeds, k=2,
                                        undirected=True).collect()}
    # seed 1: 60/1 + 60/2 = 90; seed 2 reaches 1,3 at hop1 and 4 at hop2
    assert out[1] == (2, 90)
    assert out[2] == (3, 60 + 60 + 30)


def test_negative_samples(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.graph import negative_samples

    pos = spark.createDataFrame(
        [(1, "R", 0), (1, "R", 1), (2, "R", 0)],
        "subj long, pred string, obj long",
    )
    # n_entities=2: every corrupted tail is 0 or 1, and subj=1 has BOTH
    # as true objects -> all its negatives are filtered out
    neg = negative_samples(pos, n_entities=2, k=3, seed=5)
    rows = [(r.subj, r.obj_neg) for r in neg.collect()]
    assert all(s == 2 for s, _ in rows)
    assert all(o in (0, 1) for _, o in rows)
    assert all(o != 0 for _, o in rows)  # (2,R,0) is a true triple

    # unfiltered: exactly k rows per positive, deterministic across
    # partitionings
    raw = negative_samples(pos, n_entities=1000, k=2, filter_true=False)
    assert raw.count() == 6
    again = negative_samples(
        pos.repartition(7), n_entities=1000, k=2, filter_true=False
    )
    assert {tuple(r) for r in raw.collect()} == {tuple(r) for r in again.collect()}


def test_khop_checkpoint_resume(spark, tmp_path):
    from data2neo_spark.operators.graph import khop_reachability

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    ck = str(tmp_path / "khop")

    full = {(r.node): r.min_hops
            for r in khop_reachability(edges, seeds, k=3).collect()}

    # run k=1 with checkpointing (writes hop 1), then k=3 resumes from it
    khop_reachability(edges, seeds, k=1, checkpoint_dir=ck).collect()
    import os
    assert os.path.exists(os.path.join(ck, "khop_hop_1", "_SUCCESS"))
    resumed = {(r.node): r.min_hops
               for r in khop_reachability(edges, seeds, k=3,
                                          checkpoint_dir=ck).collect()}
    assert resumed == full == {1: 0, 2: 1, 3: 2, 4: 3}
    assert os.path.exists(os.path.join(ck, "khop_hop_3", "_SUCCESS"))

    # a fully-checkpointed run resumes past the loop entirely
    again = {(r.node): r.min_hops
             for r in khop_reachability(edges, seeds, k=3,
                                        checkpoint_dir=ck).collect()}
    assert again == full


def test_label_propagation_many_rounds_without_checkpoint_dir(spark, tmp_path):
    """Every LPA round cuts its lineage, so 12 in-memory rounds on a
    200-node graph complete (uncut, the plan string grows about 4x per
    round) and agree with the checkpoint-dir path, whose disk writes were
    always lineage-free."""
    from data2neo_spark.operators.graph import label_propagation

    n = 200
    ids = spark.range(n)
    edges = ids.select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    ).unionAll(
        ids.select(F.col("id").alias("src"), ((F.col("id") * 7 + 3) % n).alias("dst"))
    )
    mem = {r.node: r.label for r in label_propagation(edges, iters=12).collect()}
    disk = {r.node: r.label for r in label_propagation(
        edges, iters=12, checkpoint_dir=str(tmp_path / "lpa")).collect()}
    assert len(mem) == n and mem == disk
    # plain-Python synchronous LPA: every edge votes from both ends
    # (repeated edges and self-loops count twice), smallest label on ties
    nbrs = {}
    for s, d in edges.collect():
        nbrs.setdefault(s, []).append(d)
        nbrs.setdefault(d, []).append(s)
    ref = {v: v for v in nbrs}
    for _ in range(12):
        votes = {v: Counter(ref[u] for u in us) for v, us in nbrs.items()}
        ref = {v: min(c, key=lambda lab: (-c[lab], lab)) for v, c in votes.items()}
    assert mem == ref


def test_label_propagation_checkpoint_resume(spark, tmp_path):
    from data2neo_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long",
    )
    ck = str(tmp_path / "lpa")
    full = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    # one checkpointed round, then resume to 3
    label_propagation(edges, iters=1, checkpoint_dir=ck).collect()
    import os
    assert os.path.exists(os.path.join(ck, "lpa_round_0", "_SUCCESS"))
    resumed = {r.node: r.label
               for r in label_propagation(edges, iters=3,
                                          checkpoint_dir=ck).collect()}
    assert resumed == full


def test_sample_neighbors(spark):
    from pyspark.sql import functions as F
    from data2neo_spark.operators.graph import sample_neighbors

    # star: node 0 connected to 1..20
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 21)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = sample_neighbors(edges, seeds, [5, 2], seed=7)
    l1 = [r for r in out.collect() if r.layer == 1]
    l2 = [r for r in out.collect() if r.layer == 2]
    # layer 1: exactly fanout 5 of the 20 leaves; layer 2: leaves have no
    # out-edges (directed), so empty
    assert len(l1) == 5 and len(l2) == 0
    assert all(r.node == 0 and 1 <= r.nbr <= 20 for r in l1)

    # undirected: layer 2 expands leaf -> hub (1 nbr each, fanout 2 caps
    # nothing), deterministic across partitionings
    und = sample_neighbors(edges, seeds, [5, 2], undirected=True, seed=7)
    und2 = sample_neighbors(
        edges.repartition(9), seeds, [5, 2], undirected=True, seed=7
    )
    assert {tuple(r) for r in und.collect()} == {tuple(r) for r in und2.collect()}
    assert und.where(F.col("layer") == 2).count() == 5  # each leaf -> hub

    import pytest as _pt
    with _pt.raises(ValueError):
        sample_neighbors(edges, seeds, [])


def test_funnel(spark):
    from data2neo_spark.operators.temporal import funnel
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    ev = spark.createDataFrame(
        [
            # u1 completes A->B->C in order
            (1, t(0), "A"), (1, t(1), "B"), (1, t(2), "C"),
            # u2: B happens BEFORE A -> stops at 1 (strict ordering),
            # even though a later C exists
            (2, t(0), "B"), (2, t(1), "A"), (2, t(2), "C"),
            # u3: A then C only -> 1 step (B missing blocks C)
            (3, t(0), "A"), (3, t(5), "C"),
            # u4: never does A -> absent
            (4, t(0), "B"),
            # u5: first-touch anchor — A@0, B@1, but ALSO A@3; C@2 must
            # count because the anchor is the EARLIEST chain
            (5, t(0), "A"), (5, t(1), "B"), (5, t(2), "C"), (5, t(3), "A"),
        ],
        "user long, ts timestamp, step string",
    )
    out = {r.user: (r.steps_completed, r.completed_at)
           for r in funnel(ev, ["user"], "ts", "step", ["A", "B", "C"]).collect()}
    assert out[1] == (3, t(2))
    assert out[2][0] == 1  # B precedes A: no B after the A anchor -> stops
    assert out[3] == (1, t(0))
    assert 4 not in out
    assert out[5] == (3, t(2))


def test_with_readability(spark):
    from data2neo_spark.operators.text import with_readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
            (2, "xyz 123"),                     # vowelless -> 1 syl each
            (3, ""),                            # degenerate: min clamps
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in with_readability(df, "doc_id").collect()}
    r1 = out[1]
    assert (r1.n_sentences, r1.n_words) == (2, 6)
    # the/cat/sat/dog/ran = 1 syllable each; "The"x2 - all six are 1
    assert r1.n_syllables == 6
    assert r1.fk_grade_x100 == (39 * 6) // 2 + (1180 * 6) // 6 - 1559
    r2 = out[2]
    assert (r2.n_sentences, r2.n_words, r2.n_syllables) == (1, 2, 2)
    r3 = out[3]
    assert (r3.n_sentences, r3.n_words) == (1, 1)


def test_retention(spark):
    from data2neo_spark.operators.temporal import retention
    import datetime as dt

    t = lambda d: dt.datetime(2024, 1, d)
    ev = spark.createDataFrame(
        [
            # u1 first on day 1; active day 3 (offset 0), day 9 (offset 1),
            # day 16 (offset 2)
            (1, t(1)), (1, t(3)), (1, t(9)), (1, t(16)),
            # u2 first on day 9 (different cohort); active day 10 only
            (2, t(9)), (2, t(10)),
        ],
        "user long, ts timestamp",
    )
    out = {(r.cohort_start.isoformat(), r.period_offset): r.n_active
           for r in retention(ev, ["user"], "ts", period_days=7).collect()}
    assert out == {
        ("2024-01-01", 0): 1, ("2024-01-01", 1): 1, ("2024-01-01", 2): 1,
        ("2024-01-09", 0): 1,
    }


def test_mention_contexts(spark):
    from data2neo_spark.operators.text import mention_contexts

    df = spark.createDataFrame(
        [(1, "a b TARGET c d e TARGET")], "doc_id long, text string"
    )
    rows = {r.pos: (r.left_ctx, r.right_ctx)
            for r in mention_contexts(df, ["TARGET"], window=3).collect()}
    # boundary clamps: pos 2 has only 2 left words; pos 6 has no right
    assert rows == {2: ("a b", "c d e"), 6: ("c d e", "")}
    import pytest as _pt
    with _pt.raises(ValueError):
        mention_contexts(df, [])


def test_link_prediction_jaccard(spark):
    from data2neo_spark.operators.graph import link_prediction_jaccard

    # square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    # non-adjacent pairs, each sharing BOTH their neighbors
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    out = {(r.a, r.b): (r.common, r.deg_a, r.deg_b, r.jaccard_x1000000)
           for r in link_prediction_jaccard(edges).collect()}
    # c=2, d=2 each -> jaccard = 2/(2+2-2) = 1.0
    assert out == {(1, 3): (2, 2, 2, 1_000_000),
                   (2, 4): (2, 2, 2, 1_000_000)}

    # existing edges never predicted; star graph: leaves share the hub
    star = spark.createDataFrame(
        [(0, i) for i in (1, 2, 3)], "src long, dst long"
    )
    got = {(r.a, r.b): r.jaccard_x1000000
           for r in link_prediction_jaccard(star).collect()}
    # leaf pairs: c=1, deg 1+1-1 -> 1.0; hub pairs excluded (adjacent)
    assert got == {(1, 2): 1_000_000, (1, 3): 1_000_000, (2, 3): 1_000_000}


def test_link_prediction_adamic_adar(spark):
    from data2neo_spark.operators.graph import link_prediction_adamic_adar

    # two wedges into (1,3): shared pivots 2 (deg 2 -> ilog2 1 -> 1e6)
    # and 4 (deg 4 -> ilog2 2 -> 500000); pivot 4 also links 5 and 6
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3), (4, 5), (4, 6)],
        "src long, dst long",
    )
    out = {(r.a, r.b): (r.common, r.aa_x1000000)
           for r in link_prediction_adamic_adar(edges).collect()}
    # (1,3): 1e6 (via 2) + 5e5 (via 4) = 1.5e6; pairs via pivot 4 only
    # (e.g. 1-5, 3-5, 5-6) get 5e5
    assert out[(1, 3)] == (2, 1_500_000)
    assert out[(5, 6)] == (1, 500_000)
    assert (1, 2) not in out  # adjacent pairs excluded
