"""Capability-layer smoke + oracle tests at sf0.001 (fast subset).

Mirrors the driver's DuckDB comparison for a representative query per
category; the full sweep lives in tools/check_correctness.py (run at
sf0.01).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_correctness import TABLES, compare  # noqa: E402

SF = "/root/testdata/sf0.001"

REPRESENTATIVE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "join_left_anti",
    "join_asof_events",
    "window_top3_per_customer",
    "cube_orders",
    "setop_intersect",
    "string_funcs_part",
    "json_funcs_events",
    "word_count",
    "text_stats",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "tumbling_window_events",
    "session_window_events",
    "vector_norms",
    "ann_ivf_label",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q18_large_volume",
    "parquet_sink_roundtrip",
    "csv_scan_nation",
    "udtf_word_explode",
    "grouped_map_top2",
    "pandas_udf_token_count",
    "stats_variance_quantity",
    "pivot_daily_event_values",
    "q7_nation_volume",
    "pipeline_rekey_bands",
    "scalar_subquery_orders",
    "correlated_subquery_orders",
    "window_range_frame",
    "join_full_outer",
    "setop_union_distinct",
    "token_positions",
    "partition_pruned_read",
    "map_funcs_events",
    "lang_id_stopword",
    "dedup_ngram_jaccard_exact",
    "dedup_ccnet_paragraphs",
    "cooccurrence_pmi",
    "freq_items_envelope",
    "crosstab_orders",
    "binaryfile_scan",
    "listagg_regions",
    "try_arith_lineitem",
    "dedup_incremental_bloom",
    "doc_length_mad_outliers",
    "union_by_name_evolution",
    "paged_orders_offset",
    "multimodal_resize_nearest",
    "lang_id_ngram_profile",
    "search_hybrid_rrf",
    "join_null_safe",
    "doc_halves_coherence",
    "sql_pipe_syntax",
    "negative_sampling_table",
    "multimodal_audio_resample",
    "observed_quality_metrics",
    "grouped_map_top2_sharded",
    "agg_salted_skew",
    "median_price_by_priority",
    "orc_scan_supplier",
    "window_ntile_distribution",
    "corr_quantity_price",
    "pandas_udaf_weighted_avg",
    "join_cross_product",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity",
    "q19_disjunctive_revenue",
    "tfidf_top_terms",
    "stratified_sample_documents",
    "doc_length_quantiles",
    "window_percent_rank",
    "join_right_outer",
    "not_in_subquery_customers",
    "agg_minmax_by",
    "multimodal_audio_energy",
    "setop_intersect_all",
    "setop_except_all",
    "sort_nulls_ordering",
    "unpivot_daily_values",
    "cube_grouping_id",
    "join_shuffle_hash_hint",
    "text_normalize",
    # round-3 TPC-H completions
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q12_priority_shipping",
    "q16_supplier_cnt",
    "q20_potential_promo",
    "q21_suppliers_waiting",
    "q22_global_sales",
    "multimodal_keyframes",
    # round-3 pipeline passes
    "quality_repetition",
    "doc_rarity_score",
    "docs_quality_filter",
    "dedup_canonical",
    "decontaminate_against_eval",
    "sink_dynamic_partition_overwrite",
    "join_salted_skew",
    "pack_training_batches",
    # round-6 late additions
    "dedup_exact_substring",
    "gopher_quality_rules",
    "dedup_containment",
    "embedding_int8_quantize",
    "pyds_sink_roundtrip",
    "arrow_grouped_map_langstats",
    "char_diversity_quality",
    "ann_recall_report",
    # round-14 additions
    "moore_lewis_selection",
    "multimodal_phash_dedup",
    "attribution_last_touch",
    "transpose_region_metrics",
    "multimodal_phash_near",
    "zorder_bucket_stats",
    "nb_calibration_report",
    "streaming_attribution_live",
    "pyds_stream_sink_roundtrip",
    "sql_variables_quota",
    # round-15 additions: SQL-oracled envelopes for the udf-tier
    # tokenizer families (the docs/COVERAGE.md window policy)
    "bpe_stats_envelope",
    "bpe_vocab_envelope",
    "unigram_stats_envelope",
    "unigram_vocab_envelope",
    "compression_ratio_envelope",
    "prototypicality_envelope",
    "dedup_semantic_lang_envelope",
    "dedup_lsh_recall_envelope",
    "dedup_rp_recall_envelope",
    # round-16 additions: envelopes closing the ANN-IVF and
    # embedding-LSH udf-tier coverage gap (r15 verdict order #3)
    "ann_ivf_kmeans_envelope",
    "dedup_embedding_lsh_envelope",
]
# dedup_lsh_eval_report is udf-oracle tier (covered by check_correctness)


@pytest.fixture(scope="module")
def entrymod(spark):
    import __spark_entry__ as m

    return m


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_matches_oracle(spark, entrymod, duck, name):
    fn = entrymod.queries()[name]
    oracle = entrymod.oracle_sql()[name]
    spark_pdf = fn(spark, SF).toPandas()
    duck_pdf = duck.sql(oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, problems


def test_entry_smoke(spark, entrymod):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"word", "cnt"}


def test_every_query_has_callable(entrymod):
    qs = entrymod.queries()
    assert len(qs) >= 50
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)


def test_rows_only_queries_run(spark, entrymod):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name in sorted(set(qs) - set(oracles)):
        if name == "streaming_tumbling_live":
            continue  # exercised in test_streaming
        df = qs[name](spark, SF)
        assert df.count() >= 0, name


def test_decode_image_gated_on_pillow():
    """decode_image is real when Pillow is importable, a clear
    NotImplementedError for compressed formats when not — both paths
    pinned."""
    from mr_python_spark.multimodal import _pillow, decode_image

    if _pillow() is None:
        with pytest.raises(NotImplementedError, match="imaging library"):
            decode_image(b"\x89PNG\r\n")
    else:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (5, 7)).save(buf, format="PNG")
        assert decode_image(buf.getvalue()) == (5, 7, 3)


def test_decode_image_builtin_formats():
    """The uncompressed formats decode for REAL with no imaging
    library: a hand-built 24-bit BMP, a binary PPM (with a header
    comment), and a binary PGM — byte layouts straight from the
    public format specs."""
    import struct

    from mr_python_spark.multimodal import decode_image

    w, h, bpp = 5, 7, 24
    row = (w * 3 + 3) & ~3  # BMP rows pad to 4 bytes
    pixel_bytes = row * h
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + pixel_bytes, 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, pixel_bytes, 2835, 2835, 0, 0)
        + b"\x00" * pixel_bytes
    )
    assert decode_image(bmp) == (5, 7, 3)
    # top-down BMP encodes a negative height; decoded height is positive
    bmp_td = bmp[:22] + struct.pack("<i", -h) + bmp[26:]
    assert decode_image(bmp_td) == (5, 7, 3)

    ppm = b"P6\n# a comment\n11 4\n255\n" + b"\x00" * (11 * 4 * 3)
    assert decode_image(ppm) == (11, 4, 3)
    pgm = b"P5 3 2 255 " + b"\x00" * 6
    assert decode_image(pgm) == (3, 2, 1)

    # payloads that merely START with a magic (arbitrary text through
    # the decode path) or carry corrupted dimensions must be rejected
    # as undecodable — never a parse ValueError, never nonsense dims.
    # Asserted on _decode_builtin directly so the check holds in
    # Pillow-equipped environments too.
    from mr_python_spark.multimodal import _decode_builtin, _pillow

    junk_payloads = (
        b"P6 #no-newline-comment",
        b"P5 hello world",
        b"P6",
        b"P5 -3 2 255 " + b"\x00" * 6,
        b"P6 0 4 255 ",
        b"BM" + b"\x00" * 40,  # zero width/height BMP header
    )
    junk_payloads = junk_payloads + (
        # arbitrary text starting 'BM' long enough to parse "dims" —
        # header validation (biSize/planes/bpp/pixel-offset) must
        # reject it, matching Pillow-equipped environments
        b"BMarkdown is a lightweight markup language for formatting text",
        b"BM" + b"\xff" * 60,
    )
    for junk in junk_payloads:
        assert _decode_builtin(junk) is None, junk
    if _pillow() is None:
        for junk in junk_payloads:
            with pytest.raises(NotImplementedError):
                decode_image(junk)


def test_decode_png_roundtrip_all_filters():
    """The pure-stdlib PNG path is a REAL decode: a seeded raster
    forward-filtered with all five scanline filter types must inflate
    and unfilter back to the exact original pixel bytes, for every
    supported channel count."""
    import numpy as np

    from mr_python_spark.multimodal import (
        _decode_png_pixels,
        _encode_png,
        decode_image,
    )

    for channels in (1, 2, 3, 4):
        w, h = 13, 9  # ≥ 7 lines → filters 3, 4, then 0/1/2 cycling
        payload = _encode_png(w, h, channels, seed=41)
        got = _decode_png_pixels(payload)
        assert got is not None
        gw, gh, gc, raster = got
        assert (gw, gh, gc) == (w, h, channels)
        idx = np.arange(w * channels, dtype=np.int64)
        expected = np.concatenate(
            [((41 + 31 * y + 7 * idx) % 251).astype(np.uint8) for y in range(h)]
        ).tobytes()
        assert raster == expected, f"channels={channels}: unfilter mismatch"
    # 1×1 edge (stride == channels: no left neighbor anywhere)
    assert _decode_png_pixels(_encode_png(1, 1, 3, seed=5))[:3] == (1, 1, 3)
    # and through the public entry point (Pillow path also accepts it)
    assert decode_image(_encode_png(6, 4, 3, seed=11)) == (6, 4, 3)


def test_decode_png_rejects_corrupt_streams():
    """Corrupted PNGs reject cleanly (None from the builtin parser, an
    exception from decode_image) — truncated chunks, a damaged deflate
    stream, a raster length that disagrees with IHDR, an invalid
    filter byte, interlaced/16-bit images out of scope, and junk that
    merely starts with the signature."""
    import struct
    import zlib

    from mr_python_spark.multimodal import _PNG_SIG, _decode_png_pixels, _encode_png

    good = _encode_png(8, 6, 3, seed=7)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    def rebuild(w=8, h=6, depth=8, ctype=2, interlace=0, raw=None) -> bytes:
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        if raw is None:
            raw = bytes((8 * 3 + 1) * 6)  # filter-0 zero raster
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    bad = [
        _PNG_SIG + b"this is not a png at all, just the magic bytes!!",
        good[:-20],  # truncated: IEND gone
        good[: len(good) // 2],  # truncated mid-IDAT
        rebuild(depth=16),  # 16-bit out of scope
        rebuild(interlace=1),  # Adam7 out of scope
        rebuild(ctype=7),  # invalid color type
        rebuild(raw=bytes((8 * 3 + 1) * 5)),  # raster short one line
        rebuild(raw=b"\x09" + bytes(8 * 3) + bytes((8 * 3 + 1) * 5)),  # bad filter
    ]
    # damaged deflate stream: flip a byte inside IDAT data
    idat_at = good.index(b"IDAT") + 4
    bad.append(good[:idat_at + 3] + bytes([good[idat_at + 3] ^ 0xFF]) + good[idat_at + 4:])
    bad += [
        # decompression bomb: tiny declared raster, IDAT inflating to
        # 100 MB — the bounded inflate must reject WITHOUT expanding it
        rebuild(raw=bytes(100_000_000)),
        # total-pixel bomb: each dimension individually plausible but
        # w*h > 2^24 (the old per-dimension cap admitted ~4 TB rasters)
        rebuild(w=1 << 13, h=1 << 13, raw=bytes(64)),
    ]
    for payload in bad:
        assert _decode_png_pixels(payload) is None
    assert _decode_png_pixels(rebuild()) is not None  # rebuild() itself is valid


def test_image_feature_row_matches_per_pixel_reference():
    """The numpy grid sampling of ``_image_feature_row`` equals a
    per-pixel loop over the same decoded raster (dHash bits and the
    16×16 nearest-neighbour sum/min/max) for every non-BMP format:
    grayscale PNG, RGBA PNG, lossless WebP and lossless JPEG, at
    several image sizes."""
    from mr_python_spark.multimodal import (
        _RESIZE_N,
        _fixture_image_decode,
        _image_feature_row,
    )

    def reference(d, plen):
        w, h, ch, raster = _fixture_image_decode(d, plen)
        stride = w * ch
        hi = lo = 0
        for i in range(8):
            row = raster[((i * h) // 8) * stride:][:stride]
            gs = [row[((j * w) // 9) * ch] for j in range(9)]
            for j in range(8):
                if gs[j] < gs[j + 1]:
                    b = i * 8 + j
                    if b >= 32:
                        hi |= 1 << (b - 32)
                    else:
                        lo |= 1 << b
        n = _RESIZE_N
        vals = [
            raster[((i * h) // n) * stride + ((j * w) // n) * ch]
            for i in range(n)
            for j in range(n)
        ]
        return (d, hi, lo, sum(vals), min(vals), max(vals))

    cases = [(d, plen) for d in (1, 2, 5, 6, 18, 34) for plen in (0, 8, 63, 100, 1234)]
    cases += [(d, plen) for d in (3, 7) for plen in (0, 63, 100)]
    for d, plen in cases:
        assert _image_feature_row(d, plen) == reference(d, plen), (d, plen)


def test_typed_surfaces_schemas(spark):
    """The decimal query must genuinely compute in DecimalType (the
    string render is hash plumbing only) and the interval query must
    surface real day-time intervals."""
    from mr_python_spark.operators.typed import (
        interval_ship_latency,
        q1_decimal_plan,
    )

    plan = dict(q1_decimal_plan(spark, SF).dtypes)
    assert plan["sum_qty_dec"] == "decimal(15,2)"
    assert plan["sum_base_dec"] == "decimal(15,2)"
    assert plan["sum_disc_dec"] == "decimal(18,4)"
    iv = dict(interval_ship_latency(spark, SF).dtypes)
    assert iv["max_latency"] == "interval day to second"
    assert iv["min_latency"] == "interval day to second"


def test_pyds_calendar_partition_planning(spark):
    """The custom Python Data Source must plan one input partition per
    year (the API's partition-planning path), and rows must land in
    their own year's partition."""
    from mr_python_spark.sources.pyds import calendar_frame

    cal = calendar_frame(spark, "1995-01-01", "1997-12-31")
    assert cal.rdd.getNumPartitions() == 3
    assert cal.count() == 365 + 366 + 365
    from pyspark.sql import functions as F

    per_year = {
        r.year: r.n
        for r in cal.groupBy("year").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_year == {1995: 365, 1996: 366, 1997: 365}


def test_char_split_is_code_point_safe(spark):
    """char_diversity_quality's character split must yield whole code
    points: a plain split(text, '') splits between UTF-16 code units,
    so a non-BMP character (emoji, rare CJK) becomes two surrogate
    halves while the DuckDB oracle's string_split(text, '') is
    code-point based — the regexp_extract_all('(?s).') expression must
    match the oracle exactly on a supplementary-plane string."""
    from pyspark.sql import functions as F

    s = "a😀🀄b"
    df = spark.createDataFrame([(s,)], "text string")
    got = [
        r.ch
        for r in df.select(
            F.explode(F.regexp_extract_all("text", F.lit("(?s)."), 0)).alias("ch")
        ).collect()
    ]
    want = [r[0] for r in duckdb.sql(f"SELECT unnest(string_split('{s}', ''))").fetchall()]
    assert got == want == ["a", "😀", "🀄", "b"]


def test_pyds_registration_survives_session_restart():
    """Custom data-source registration is keyed by applicationId, not a
    process-global flag: a stopped-and-recreated SparkSession in the
    same Python process must re-register, not fail with
    data-source-not-found."""
    from mr_python_spark.sources import pyds

    class App1:
        applicationId = "app-1"

    class App2:
        applicationId = "app-2"

    class FakeSession:
        def __init__(self, app):
            self.sparkContext = app
            self.registered = []
            outer = self

            class _DS:
                def register(self, cls):
                    outer.registered.append(cls.__name__)

            self.dataSource = _DS()

    s1 = FakeSession(App1)
    pyds._ensure_source(s1, pyds.CalendarDataSource)
    pyds._ensure_source(s1, pyds.CalendarDataSource)
    assert s1.registered == ["CalendarDataSource"]  # once per session
    s2 = FakeSession(App2)  # "restarted" session, new applicationId
    pyds._ensure_source(s2, pyds.CalendarDataSource)
    assert s2.registered == ["CalendarDataSource"]  # re-registered


def test_observation_metrics_ride_the_action(spark):
    """Spark's Observation API: per-action metrics collected during the
    normal pass (no second job), matching a direct aggregate."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mr_python_spark.session import load_table

    li = load_table(spark, SF, "lineitem")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cents"),
    )
    n_filtered = observed.filter(F.col("l_quantity") > 25).count()
    direct = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("c"),
    ).collect()[0]
    assert obs.get["n_rows"] == direct.n
    assert obs.get["cents"] == direct.c
    assert 0 < n_filtered < direct.n


def test_pyjsonl_commit_protocol(tmp_path):
    """Driver-side committer contract: commit renames each winning
    attempt's temp file into place, sweeps only THIS job's
    losing-attempt strays (a concurrent job's temps survive), and
    atomically writes the _SUCCESS manifest; abort tolerates None
    messages (failed tasks) and leaves none of this job's temps."""
    import json

    from mr_python_spark.sources.pyds import JsonlWriter, _JsonlCommit

    w = JsonlWriter({"path": str(tmp_path)}, overwrite=False)
    msgs = []
    for pid, attempt, n in ((0, 17, 3), (1, 4, 2)):
        name = f"part-{pid:05d}.jsonl"
        tmp = f"{name}.{w.job_id}.{attempt}.inprogress"
        (tmp_path / tmp).write_text('{"x": 1}\n' * n)
        msgs.append(_JsonlCommit(filename=name, tmp_name=tmp, n_rows=n))
    # a losing speculative attempt of THIS job, and a CONCURRENT job's
    # in-flight temp that the sweep must NOT touch
    (tmp_path / f"part-00000.jsonl.{w.job_id}.99.inprogress").write_text("{}\n")
    other = tmp_path / "part-00000.jsonl.deadbeefcafe.7.inprogress"
    other.write_text("{}\n")
    w.commit(msgs)
    assert [p.name for p in tmp_path.glob("*.inprogress")] == [other.name]
    manifest = json.loads((tmp_path / "_SUCCESS").read_text())
    assert manifest == {"part-00000.jsonl": 3, "part-00001.jsonl": 2}

    # abort: None messages from failed tasks must not crash cleanup
    tmp = f"part-00002.jsonl.{w.job_id}.5.inprogress"
    (tmp_path / tmp).write_text("{}\n")
    w.abort([None, _JsonlCommit(filename="part-00002.jsonl", tmp_name=tmp, n_rows=1)])
    assert [p.name for p in tmp_path.glob("*.inprogress")] == [other.name]
    assert (tmp_path / "part-00000.jsonl").exists()


def test_jpeg_roundtrip_baseline():
    """The pure-stdlib JPEG path is a REAL codec: a seeded raster
    encoded at 4:4:4 with Annex K tables decodes to the right
    dimensions and pixel values within normal lossy-coding error
    (wrap-heavy gradients measure MAE < 16), for block-aligned and
    unaligned sizes including 1x1."""
    import numpy as np

    from mr_python_spark.multimodal import decode_image
    from mr_python_spark.multimodal.jpeg import decode_jpeg_pixels, encode_jpeg

    for (w, h, seed) in [(8, 8, 3), (16, 8, 1), (17, 13, 2), (33, 9, 6), (1, 1, 5)]:
        payload = encode_jpeg(w, h, seed=seed)
        got = decode_jpeg_pixels(payload)
        assert got is not None and got[:3] == (w, h, 3)
        dec = np.frombuffer(got[3], dtype=np.uint8).reshape(h, w, 3).astype(float)
        yy, xx = np.mgrid[0:h, 0:w]
        src = np.stack(
            [
                (xx * 3 + yy * 5 + seed * 11) % 256,
                (xx * 7 + yy * 2 + seed * 23) % 256,
                (xx + yy * 13 + seed * 31) % 256,
            ],
            -1,
        ).astype(float)
        assert np.abs(dec - src).mean() < 16, (w, h, seed)
        # the dispatch in decode_image takes the same path
        assert decode_image(payload) == (w, h, 3)

    # explicit-raster surface: solid color reproduces near-exactly
    rgb = bytes([100, 150, 200]) * (8 * 8)
    got = decode_jpeg_pixels(encode_jpeg(8, 8, rgb=rgb))
    dec = np.frombuffer(got[3], dtype=np.uint8).reshape(8, 8, 3).astype(float)
    assert np.abs(dec - np.array([100.0, 150.0, 200.0])).max() <= 3


def test_jpeg_progressive_roundtrip():
    """Progressive (SOF2 spectral-selection) encodes decode to pixels
    BYTE-IDENTICAL to the baseline encode of the same raster: both
    encoders share the quantized coefficient grids, so any divergence
    is a scan-coding bug (DC interleave order, band boundaries, EOB
    runs).  Also pins the stream structure: SOF2 marker and one scan
    per (DC + components x PROG_AC_BANDS)."""
    import numpy as np

    from mr_python_spark.multimodal import decode_image
    from mr_python_spark.multimodal.jpeg import (
        PROG_AC_BANDS,
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    for (w, h, seed) in [(8, 8, 0), (16, 8, 1), (17, 13, 2), (33, 9, 6), (1, 1, 5)]:
        prog = encode_jpeg_progressive(w, h, seed=seed)
        base = decode_jpeg_pixels(encode_jpeg(w, h, seed=seed))
        got = decode_jpeg_pixels(prog)
        assert got is not None and got[:3] == (w, h, 3)
        assert np.array_equal(
            np.frombuffer(got[3], dtype=np.uint8),
            np.frombuffer(base[3], dtype=np.uint8),
        ), (w, h, seed)
        # stream structure: SOF2, and 1 DC + 3*len(PROG_AC_BANDS) SOS
        assert b"\xff\xc2" in prog and b"\xff\xc0" not in prog
        n_sos = prog.count(b"\xff\xda")
        assert n_sos == 1 + 3 * len(PROG_AC_BANDS), n_sos
        # the dispatch surface decodes it too (no NotImplementedError)
        assert decode_image(prog) == (w, h, 3)


def test_jpeg_roundtrip_restart_intervals():
    """DRI JPEGs decode identically to their no-DRI twins: restart
    markers change entropy segmentation, not quantization, so the
    pixel output must be byte-identical.  The (size, interval) sweep
    lands interval boundaries on every accumulator tail alignment —
    including the 4-byte refill-boundary drain where restart() used
    to return False because _fill (which stops once nbits > 24) had
    never prefetched the marker (the ADVICE-reported decode failure
    on real multi-interval DRI files)."""
    import numpy as np

    from mr_python_spark.multimodal.jpeg import _BitReader, decode_jpeg_pixels, encode_jpeg

    for (w, h, seed) in [(32, 32, 3), (40, 24, 1), (17, 13, 2), (64, 16, 7)]:
        plain = decode_jpeg_pixels(encode_jpeg(w, h, seed=seed))
        assert plain is not None
        n_mcus = -(-w // 8) * -(-h // 8)
        for interval in (1, 2, 3, 5, 7):
            if interval >= n_mcus:
                continue
            payload = encode_jpeg(w, h, seed=seed, restart_interval=interval)
            assert b"\xff\xdd" in payload, "DRI segment missing"
            got = decode_jpeg_pixels(payload)
            assert got is not None, (w, h, seed, interval)
            assert got == plain, (w, h, seed, interval)

    # unit pin of the exact failure mode: a 4-byte entropy tail fills
    # 32 bits (> 24) so _fill returns without seeing the marker; a
    # draining decoder then calls restart(), which must scan it
    br = _BitReader(bytes([0xAB, 0xCD, 0xEF, 0x12, 0xFF, 0xD0, 0x55]), 0)
    assert br.read_bits(26) is not None  # leaves 6 pad bits, marker unread
    assert br.marker is None  # the pre-fix precondition
    assert br.restart(), "restart() must scan the unprefetched marker"
    assert br.read_bits(8) == 0x55  # decoding resumes after the marker

    # fill-byte tolerance: 0xFF padding before the marker (B.1.1.2)
    br = _BitReader(bytes([0xAB, 0xCD, 0xEF, 0x12, 0xFF, 0xFF, 0xD1, 0x66]), 0)
    assert br.read_bits(26) is not None
    assert br.restart()
    assert br.read_bits(8) == 0x66


def test_jpeg_lossless_roundtrip_exact():
    """Lossless (SOF3, Annex H) roundtrips BIT-EXACTLY — the property
    no lossy process offers, asserted across all 7 predictors, odd
    sizes, grayscale, a random explicit raster, and the point
    transform (pt>0 must reproduce exactly the pt-truncated raster).
    Malformed streams (truncation, missing scope) return None."""
    import numpy as np

    from mr_python_spark.multimodal import decode_image
    from mr_python_spark.multimodal.jpeg import (
        _synth_rgb,
        decode_jpeg_pixels,
        encode_jpeg_lossless,
    )

    for predictor in range(1, 8):
        for (w, h) in [(8, 8), (13, 7), (32, 24), (1, 1), (3, 9)]:
            seed = predictor * 7 + w
            payload = encode_jpeg_lossless(w, h, seed=seed, predictor=predictor)
            assert b"\xff\xc3" in payload and b"\xff\xdb" not in payload
            got = decode_jpeg_pixels(payload)
            assert got is not None and got[:3] == (w, h, 3)
            assert got[3] == _synth_rgb(w, h, None, seed, np).tobytes(), (
                predictor, w, h,
            )
            # the dispatch surface takes the same path
            assert decode_image(payload) == (w, h, 3)

    # grayscale: one component, returned untransformed
    payload = encode_jpeg_lossless(16, 16, seed=3, predictor=4, grayscale=True)
    got = decode_jpeg_pixels(payload)
    assert got[:3] == (16, 16, 1)
    assert got[3] == _synth_rgb(16, 16, None, 3, np)[..., 0].tobytes()

    # point transform: decode == (sample >> pt) << pt, still exact
    payload = encode_jpeg_lossless(12, 10, seed=5, predictor=7, pt=2)
    got = decode_jpeg_pixels(payload)
    want = ((_synth_rgb(12, 10, None, 5, np).astype(np.int32) >> 2) << 2)
    assert got[3] == want.astype(np.uint8).tobytes()

    # explicit random raster: predictor 6, non-square, exact
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    payload = encode_jpeg_lossless(17, 24, rgb=img.tobytes(), predictor=6)
    got = decode_jpeg_pixels(payload)
    assert got[3] == img.tobytes()

    # corruption gates: truncated payload -> None
    assert decode_jpeg_pixels(payload[: len(payload) // 2]) is None
    # out-of-scope lossless shapes -> None, not garbage
    bad = bytearray(payload)
    sos_at = payload.index(b"\xff\xda")
    bad[sos_at + 5 + 2 * 3] = 0  # predictor Ss=0: invalid
    assert decode_jpeg_pixels(bytes(bad)) is None


def test_qm_table_sanity():
    """Structural invariants of the Table D.3 transcription the whole
    QM coder hangs off: every transition index is in range, every Qe
    renormalizes (0 < Qe < 0x8000, so the renorm loops terminate),
    and the sign state self-loops without ever switching MPS."""
    from mr_python_spark.multimodal.jpeg_arith import FIXED_STATE, QM_TABLE

    assert len(QM_TABLE) == 114
    for i, (qe, nmps, nlps, sw) in enumerate(QM_TABLE):
        assert 0 < qe < 0x8000, i
        assert 0 <= nmps < len(QM_TABLE), i
        assert 0 <= nlps < len(QM_TABLE), i
        assert sw in (0, 1), i
    qe, nmps, nlps, sw = QM_TABLE[FIXED_STATE]
    assert (nmps, nlps, sw) == (FIXED_STATE, FIXED_STATE, 0)
    assert QM_TABLE[0][:2] == (0x5A1D, 1) and QM_TABLE[0][3] == 1


def test_qm_coder_roundtrip_fuzz():
    """The two independent QM realizations face off: the big-int
    encoder's packed bytes decode back to the exact decision sequence
    through the windowed-register decoder, across adversarial decision
    mixes — long all-MPS runs (drives the state to the top of the
    estimation chains and forces 0xFF byte-stuffing), alternating
    worst-case, pure-random, and multi-context interleaves."""
    import random

    from mr_python_spark.multimodal.jpeg_arith import (
        _new_stats,
        _QMDecoder,
        _QMEncoder,
    )

    rng = random.Random(20260817)
    patterns = []
    patterns.append([0] * 5000)                      # all-MPS run
    patterns.append([1] * 300)                       # all-LPS (flip-heavy)
    patterns.append([i & 1 for i in range(2000)])    # alternating
    for _ in range(12):
        n = rng.randrange(1, 1500)
        p = rng.random() * 0.9 + 0.05
        patterns.append([1 if rng.random() < p else 0 for _ in range(n)])
    for pat in patterns:
        n_ctx = rng.choice([1, 3, 8])
        ctxs = [rng.randrange(n_ctx) for _ in pat]
        enc, senc = _QMEncoder(), _new_stats(n_ctx)
        for d, cx in zip(pat, ctxs):
            enc.encode(senc, cx, d)
        body = enc.flush() + b"\xff\xd9"
        dec, sdec = _QMDecoder(body, 0), _new_stats(n_ctx)
        got = [dec.decode(sdec, cx) for cx in ctxs]
        assert got == pat, (len(pat), n_ctx)
        assert senc == sdec  # adaptation walked the same chain


def test_jpeg_arith_roundtrip_matches_baseline():
    """Arithmetic-coded sequential (SOF9) encodes decode to pixels
    BYTE-IDENTICAL to the Huffman baseline encode of the same raster
    (shared quantized-coefficient pipeline; the entropy layer is
    lossless), across block-aligned, unaligned, and 1x1 shapes.  The
    stream is genuinely arithmetic: SOF9 + DAC present, no DHT, and
    the adaptive coder beats the fixed Annex K Huffman tables on
    entropy size for every shape."""
    import numpy as np

    from mr_python_spark.multimodal import decode_image
    from mr_python_spark.multimodal.jpeg import decode_jpeg_pixels, encode_jpeg
    from mr_python_spark.multimodal.jpeg_arith import encode_jpeg_arith

    for (w, h, seed) in [(8, 8, 0), (16, 8, 1), (17, 13, 2), (33, 9, 6),
                         (1, 1, 5), (64, 64, 96), (5, 41, 77)]:
        arith = encode_jpeg_arith(w, h, seed=seed)
        base = decode_jpeg_pixels(encode_jpeg(w, h, seed=seed))
        got = decode_jpeg_pixels(arith)
        assert got is not None and got[:3] == (w, h, 3)
        assert np.array_equal(
            np.frombuffer(got[3], dtype=np.uint8),
            np.frombuffer(base[3], dtype=np.uint8),
        ), (w, h, seed)
        assert b"\xff\xc9" in arith and b"\xff\xcc" in arith
        assert b"\xff\xc4" not in arith and b"\xff\xc0" not in arith
        assert len(arith) < len(encode_jpeg(w, h, seed=seed))
        # the dispatch surface takes the same path
        assert decode_image(arith) == (w, h, 3)

    # explicit-raster surface matches the baseline on the same bytes
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8).tobytes()
    a = decode_jpeg_pixels(encode_jpeg_arith(17, 24, rgb=img))
    b = decode_jpeg_pixels(encode_jpeg(17, 24, rgb=img))
    assert a == b


def test_jpeg_arith_out_of_scope_and_malformed():
    """Scope fences for the arithmetic path: restart-marked arithmetic
    (DRI spliced in), progressive-arithmetic SOF10, invalid DAC
    conditioning, and header truncation all return None — never
    garbage rasters or exceptions."""
    import struct

    from mr_python_spark.multimodal.jpeg import decode_jpeg_pixels
    from mr_python_spark.multimodal.jpeg_arith import encode_jpeg_arith

    payload = encode_jpeg_arith(16, 16, seed=9)
    sos_at = payload.index(b"\xff\xda")

    # DRI + arithmetic: out of scope -> None
    dri = struct.pack(">BBHH", 0xFF, 0xDD, 4, 2)
    with_dri = payload[:sos_at] + dri + payload[sos_at:]
    assert decode_jpeg_pixels(with_dri) is None

    # progressive arithmetic (SOF10): out of scope -> None
    sof10 = payload.replace(b"\xff\xc9", b"\xff\xca")
    assert decode_jpeg_pixels(sof10) is None

    # invalid AC conditioning (Kx = 0) -> None
    dac_at = payload.index(b"\xff\xcc")
    bad = bytearray(payload)
    bad[dac_at + 9] = 0  # AC table 0's Cs byte (pairs: 00 10 01 10 10 05..)
    assert decode_jpeg_pixels(bytes(bad)) is None

    # header truncation -> None
    assert decode_jpeg_pixels(payload[: sos_at - 2]) is None


def test_webp_vp8l_roundtrip_bit_exact():
    """Lossless WebP (VP8L) roundtrips BIT-EXACTLY across the whole
    option matrix — subtract-green on/off, per-block predictor
    transform, color cache widths, LZ77 run references, two-group
    meta prefix codes, and their compositions — plus random rasters
    and the constant raster that drives the LZ77/simple-code paths
    hard.  The decode_image dispatch takes the same path."""
    import random

    from mr_python_spark.multimodal import decode_image
    from mr_python_spark.multimodal.webp import (
        _synth_rgba,
        decode_webp_pixels,
        encode_webp,
    )

    for (w, h, seed) in [(1, 1, 0), (8, 8, 1), (13, 7, 3), (32, 32, 9),
                         (64, 17, 42), (3, 64, 5)]:
        want = _synth_rgba(w, h, None, seed)
        for kwargs in [
            dict(),
            dict(subtract_green=False),
            dict(cache_bits=0),
            dict(use_lz77=False),
            dict(predictor_bits=2),
            dict(predictor_bits=3, subtract_green=False),
            dict(meta_bits=2),
            dict(meta_bits=3),
            dict(cache_bits=3, predictor_bits=4, meta_bits=3),
            dict(cache_bits=11),
        ]:
            payload = encode_webp(w, h, seed=seed, **kwargs)
            got = decode_webp_pixels(payload)
            assert got is not None and got[:3] == (w, h, 4), (w, h, kwargs)
            assert got[3] == want, (w, h, seed, kwargs)
        assert decode_image(encode_webp(w, h, seed=seed)) == (w, h, 4)

    rng = random.Random(7)
    for _ in range(4):
        w, h = rng.randrange(1, 40), rng.randrange(1, 40)
        raster = bytes(rng.randrange(256) for _ in range(w * h * 4))
        payload = encode_webp(
            w, h, rgba=raster,
            predictor_bits=rng.choice([0, 2, 3]),
            cache_bits=rng.choice([0, 4, 8]),
        )
        got = decode_webp_pixels(payload)
        assert got is not None and got[3] == raster

    raster = bytes([10, 200, 30, 255]) * (16 * 16)
    got = decode_webp_pixels(encode_webp(16, 16, rgba=raster))
    assert got is not None and got[3] == raster


def test_webp_vp8l_color_indexing_bundled():
    """The color-indexing transform roundtrips for every bundling
    width: 2/4-color palettes pack 8 and 4 indices per coded pixel,
    16-color packs 2, and >16 colors take the unbundled path —
    including non-multiple-of-bundle image widths."""
    import random

    from mr_python_spark.multimodal.webp import (
        decode_webp_pixels,
        encode_webp_indexed,
    )

    rng = random.Random(13)
    for ncol in (2, 3, 4, 9, 16, 17, 200):
        pal = [(0xFF << 24) | rng.randrange(1 << 24) for _ in range(ncol)]
        w, h = 21, 13  # 21 is not a multiple of any bundle width
        idx = [rng.randrange(ncol) for _ in range(w * h)]
        payload = encode_webp_indexed(w, h, idx, pal)
        want = bytearray()
        for i in idx:
            c = pal[i]
            want += bytes(
                [(c >> 16) & 0xFF, (c >> 8) & 0xFF, c & 0xFF, (c >> 24) & 0xFF]
            )
        got = decode_webp_pixels(payload)
        assert got is not None and got[:3] == (w, h, 4), ncol
        assert got[3] == bytes(want), ncol


def test_webp_vp8l_malformed_and_out_of_scope():
    """Corruption fences: bad VP8L signature byte, nonzero version,
    truncation, a lossy VP8 chunk, and a decompression-bomb dimension
    header all return None — never garbage or exceptions."""
    from mr_python_spark.multimodal.webp import decode_webp_pixels, encode_webp

    payload = encode_webp(16, 16, seed=4)
    assert decode_webp_pixels(payload) is not None

    bad = bytearray(payload)
    bad[20] = 0x2E  # wrong VP8L signature byte
    assert decode_webp_pixels(bytes(bad)) is None

    bad = bytearray(payload)
    bad[24] |= 0xE0  # version bits (bits 29..31 of the header word)
    assert decode_webp_pixels(bytes(bad)) is None

    assert decode_webp_pixels(payload[:24]) is None
    assert decode_webp_pixels(payload[: len(payload) // 2]) is None

    lossy = bytearray(payload)
    lossy[12:16] = b"VP8 "  # lossy chunk: genuinely library-gated
    assert decode_webp_pixels(bytes(lossy)) is None

    # 16384 x 16384 dims (all-ones 28-bit header) exceed the pixel cap
    bomb = bytearray(payload)
    bomb[21] = bomb[22] = bomb[23] = 0xFF
    bomb[24] |= 0x0F
    assert decode_webp_pixels(bytes(bomb)) is None


def test_jpeg_rejects_corrupt_and_out_of_scope():
    """Malformed or out-of-scope JPEGs reject cleanly with None:
    truncation (header and mid-scan), progressive SOF2, oversized
    declared rasters, and junk that merely starts with the SOI magic."""
    from mr_python_spark.multimodal.jpeg import decode_jpeg_pixels, encode_jpeg

    good = encode_jpeg(16, 16, seed=9)
    assert decode_jpeg_pixels(good) is not None

    sof_at = good.index(b"\xff\xc0")
    progressive = good[:sof_at + 1] + b"\xc2" + good[sof_at + 2:]
    huge = bytearray(good)
    # SOF0 height/width at sof_at+5 (after marker+len+precision)
    import struct

    struct.pack_into(">HH", huge, sof_at + 5, 0x2000, 0x2000)  # 2^26 pixels
    bad = [
        b"\xff\xd8 definitely not a jpeg but starts with the magic",
        good[:40],                # truncated in the tables
        good[:-30],               # truncated mid-scan (EOI + data gone)
        progressive,              # SOF2 out of scope
        bytes(huge),              # total-pixel cap
        good[:2] + good[4:],      # first segment marker misaligned
    ]
    for payload in bad:
        assert decode_jpeg_pixels(payload) is None


def test_phash_raster_law_both_decoders():
    """The pHash oracle's premise: BOTH real decoders (PNG inflate +
    unfilter, lossless-JPEG Annex H predictive) reproduce the fixture
    raster law ``byte(y, i) = (seed + 31y + 7i) % 251`` bit-exactly.
    A wrong unfilter branch or predictor would diverge here before it
    diverged in the hash gate."""
    import numpy as np

    from mr_python_spark.multimodal import _decode_png_pixels, _encode_png
    from mr_python_spark.multimodal.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg_lossless,
    )

    for w, h, ch, seed in [(5, 4, 1, 3), (17, 9, 4, 41), (64, 33, 3, 96)]:
        idx = np.arange(w * ch, dtype=np.int64)
        law = np.concatenate(
            [((seed + 31 * y + 7 * idx) % 251).astype(np.uint8) for y in range(h)]
        ).tobytes()
        if ch == 3:
            payload = encode_jpeg_lossless(w, h, rgb=law, seed=seed)
            dec = decode_jpeg_pixels(payload)
        else:
            payload = _encode_png(w, h, ch, seed=seed)
            dec = _decode_png_pixels(payload)
        assert dec is not None
        dw, dh, dch, raster = dec
        assert (dw, dh, dch) == (w, h, ch)
        assert raster == law


def test_phash_dhash_hand_computed():
    """64-bit dHash of a hand-checkable raster: w=9, h=8, ch=1 makes
    the grid the identity (x_j = j, y_i = i), so bit (i,j) is simply
    law(i, j) < law(i, j+1) — verified against an independent loop."""
    # independent law + dHash
    seed = 12

    def g(y, x):
        return (seed + 31 * y + 7 * x) % 251

    hi = lo = 0
    for i in range(8):
        for j in range(8):
            if g(i, j) < g(i, j + 1):
                b = i * 8 + j
                if b >= 32:
                    hi |= 1 << (b - 32)
                else:
                    lo |= 1 << b
    # engine path on the same raster
    from mr_python_spark.multimodal import _decode_png_pixels, _encode_png

    dw, dh, dch, raster = _decode_png_pixels(_encode_png(9, 8, 1, seed=seed))
    ehi = elo = 0
    for i in range(8):
        y = (i * dh) // 8
        row = raster[y * dw : (y + 1) * dw]
        gs = [row[(j * dw) // 9] for j in range(9)]
        for j in range(8):
            if gs[j] < gs[j + 1]:
                b = i * 8 + j
                if b >= 32:
                    ehi |= 1 << (b - 32)
                else:
                    elo |= 1 << b
    assert (ehi, elo) == (hi, lo)


def test_moore_lewis_prefers_target_lang(spark):
    """Purpose check: the en-trained in-domain model must select en
    documents at a (much) higher rate than non-en ones — the whole
    point of cross-entropy-difference selection."""
    from mr_python_spark.functions.lm import ML_TARGET_LANG, moore_lewis_selection
    from mr_python_spark.session import load_table

    sel = moore_lewis_selection(spark, SF).select("doc_id", "selected")
    langs = load_table(spark, SF, "documents").select("doc_id", "lang")
    rows = sel.join(langs, "doc_id").collect()
    en = [r.selected for r in rows if r.lang == ML_TARGET_LANG]
    rest = [r.selected for r in rows if r.lang != ML_TARGET_LANG]
    assert en and rest
    en_rate = sum(en) / len(en)
    rest_rate = sum(rest) / len(rest)
    # the general model also saw en text, so the binary contrast
    # selects conservatively — require a clear multiplicative
    # preference, not an absolute gap (measured: 0.27 vs 0.08)
    assert en_rate > 2 * rest_rate and en_rate > 0.15, (en_rate, rest_rate)


def test_prototypicality_prune_policy(spark):
    """Purpose check: within every cluster, exactly floor(n/4) vectors
    are pruned, and the pruned set is precisely the top-ranked
    (most-prototypical) prefix — the abundant-data keep-hard policy."""
    from collections import defaultdict

    from mr_python_spark.similarity import prototypicality_rank

    rows = prototypicality_rank(spark, SF).collect()
    by_cell = defaultdict(list)
    for r in rows:
        by_cell[r.cell].append(r)
    assert len(by_cell) > 1
    for cell, rs in by_cell.items():
        n = len(rs)
        assert all(r.n_cell == n for r in rs)
        pruned = {r.proto_rank for r in rs if r.pruned}
        assert pruned == set(range(1, n // 4 + 1)), (cell, n, pruned)
        # ranks are a permutation of 1..n (total order, no ties)
        assert {r.proto_rank for r in rs} == set(range(1, n + 1))


def test_zorder_buckets_localize_both_dims(spark):
    """Purpose check: z-ordering must give BOTH dimensions narrow
    per-bucket envelopes (a single-column sort leaves the other
    dimension full-range in every bucket)."""
    from mr_python_spark.operators.bucketing import zorder_bucket_stats

    rows = zorder_bucket_stats(spark, SF).collect()
    assert len(rows) > 4
    g_cust = max(r.max_cust for r in rows) - min(r.min_cust for r in rows)
    g_day = max(r.max_day for r in rows) - min(r.min_day for r in rows)
    # mean per-bucket span, weighted by rows
    n = sum(r.n_orders for r in rows)
    m_cust = sum((r.max_cust - r.min_cust) * r.n_orders for r in rows) / n
    m_day = sum((r.max_day - r.min_day) * r.n_orders for r in rows) / n
    assert m_cust < g_cust / 2, (m_cust, g_cust)
    assert m_day < g_day / 2, (m_day, g_day)


def test_pyjsonl_stream_commit_protocol(tmp_path):
    """Streaming committer contract: per-batch commit renames winning
    attempts into BATCH-ID-SCOPED names (a replayed batch overwrites
    exactly its own files — idempotent), tolerates None messages,
    writes the per-batch manifest atomically, and abort sweeps only
    this job's temps."""
    import json

    from mr_python_spark.sources.pyds import JsonlStreamWriter, _JsonlCommit

    w = JsonlStreamWriter({"path": str(tmp_path)})

    def stage(pid, attempt, n):
        tmp = f"part-{pid:05d}.{w.job_id}.{attempt}.inprogress"
        (tmp_path / tmp).write_text('{"x": 1}\n' * n)
        return _JsonlCommit(filename=f"part-{pid:05d}", tmp_name=tmp, n_rows=n)

    w.commit([stage(0, 11, 3), None, stage(1, 2, 2)], batchId=7)
    assert not list(tmp_path.glob("*.inprogress"))
    manifest = json.loads((tmp_path / "_SUCCESS_7").read_text())
    assert manifest == {"part-00000-b7.jsonl": 3, "part-00001-b7.jsonl": 2}

    # checkpoint-restart replay of the SAME batch id: files are simply
    # overwritten, the manifest re-written — no duplicates appear
    w2 = JsonlStreamWriter({"path": str(tmp_path)})
    tmp = f"part-00000.{w2.job_id}.44.inprogress"
    (tmp_path / tmp).write_text('{"x": 2}\n')
    w2.commit([_JsonlCommit(filename="part-00000", tmp_name=tmp, n_rows=1)], batchId=7)
    manifest = json.loads((tmp_path / "_SUCCESS_7").read_text())
    assert manifest == {"part-00000-b7.jsonl": 1}
    assert (tmp_path / "part-00000-b7.jsonl").read_text() == '{"x": 2}\n'

    # abort: None-tolerant, sweeps this job's temps only
    tmp = f"part-00003.{w2.job_id}.9.inprogress"
    (tmp_path / tmp).write_text("{}\n")
    other = tmp_path / "part-00000.ffffffffffff.1.inprogress"
    other.write_text("{}\n")
    w2.abort([None], batchId=8)
    assert [p.name for p in tmp_path.glob("*.inprogress")] == [other.name]
