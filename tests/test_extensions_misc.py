"""Extension registry, pipeline builder, column-set algebra, error ledger,
in-memory buffers, multi-format loading, timestamp parsing."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from time_series_loader_spark.config import LoadingConfig, TimeSeriesConfig, ValidationStrategy
from time_series_loader_spark.errors import ErrorLedger, ErrorSeverity
from time_series_loader_spark.functions.colsets import (
    columns_in_exactly_one,
    columns_intersection,
    columns_union,
)
from time_series_loader_spark.functions.timeparse import parse_timestamp_multi
from time_series_loader_spark.plans.pipeline import (
    ExtensionRegistry,
    Pipeline,
    create_pipeline,
    update_config,
)


class TestColsets:
    LISTS = [["a", "b", "c"], ["b", "c", "d"], ["c", "e"]]

    def test_union(self):
        assert columns_union(self.LISTS) == ["a", "b", "c", "d", "e"]

    def test_intersection(self):
        assert columns_intersection(self.LISTS) == ["c"]

    def test_exactly_one(self):
        assert columns_in_exactly_one(self.LISTS) == ["a", "d", "e"]

    def test_empty(self):
        assert columns_union([]) == []
        assert columns_intersection([]) == []


class TestPipeline:
    def test_ordered_steps_compose_lazily(self, spark):
        df = spark.range(10).withColumnRenamed("id", "x")
        p = create_pipeline(
            ("double", lambda d: d.withColumn("x", F.col("x") * 2)),
            ("filter", lambda d: d.where(F.col("x") >= 10)),
        )
        assert p.names() == ["double", "filter"]
        out = p.run(df)
        assert out.count() == 5

    def test_insert_remove(self, spark):
        p = Pipeline()
        p.add("a", lambda d: d).add("c", lambda d: d)
        p.insert(1, "b", lambda d: d)
        assert p.names() == ["a", "b", "c"]
        p.remove("b")
        assert p.names() == ["a", "c"]

    def test_registry_slots(self):
        r = ExtensionRegistry()
        r.register("metadata_extractor", "EXT").register("custom_thing", 42)
        r.register("post_processing_hook", "H1").register("post_processing_hook", "H2")
        assert r.get("metadata_extractor") == "EXT"
        assert r.get("custom_thing") == 42
        assert r.hooks == ["H1", "H2"]

    def test_update_config(self):
        cfg = TimeSeriesConfig()
        cfg2 = update_config(cfg, strategy=ValidationStrategy.STRICT,
                             max_allowed_gap=timedelta(hours=1))
        assert cfg2.strategy is ValidationStrategy.STRICT
        assert cfg.strategy is ValidationStrategy.LENIENT  # original untouched
        with pytest.raises(ValueError, match="unknown config fields"):
            update_config(cfg, nope=1)


class TestErrorLedger:
    def test_severity_counts_and_filtering(self, tmp_path):
        led = ErrorLedger()
        led.record(ErrorSeverity.WARNING, "w_type", "warn msg", file="f1.csv")
        led.record(ErrorSeverity.ERROR, "e_type", "err msg", file="f1.csv")
        led.record(ErrorSeverity.INFO, "i_type", "info msg")
        rep = led.report()
        assert rep["total_errors"] == 3
        assert rep["by_severity"] == {"WARNING": 1, "ERROR": 1, "INFO": 1}
        assert rep["by_file"] == {"f1.csv": 2}

        j = tmp_path / "errs.json"
        led.export_json(str(j), severities={ErrorSeverity.ERROR})
        import json

        data = json.loads(j.read_text())
        assert len(data) == 1 and data[0]["error_type"] == "e_type"

        c = tmp_path / "errs.csv"
        led.export_csv(str(c))
        assert len(c.read_text().strip().splitlines()) == 4  # header + 3

    def test_critical_raises(self):
        led = ErrorLedger()
        with pytest.raises(RuntimeError, match="CRITICAL"):
            led.record(ErrorSeverity.CRITICAL, "boom", "fatal")
        assert len(led.errors) == 1


class TestBuffers:
    def test_load_buffers_end_to_end(self, spark):
        from time_series_loader_spark.plans.loader import TimeSeriesLoader

        b1 = b"v;Time\n1;01/01/2023 10:00\n2;01/01/2023 11:00\n"
        b2 = b"v;Time\n3;01/01/2023 09:00\n"
        df = TimeSeriesLoader.from_buffers(
            spark,
            [("upload1.csv", b1), ("upload2.csv", b2)],
            loading=LoadingConfig(timestamp_column="Time"),
        )
        rows = df.collect()
        assert len(rows) == 3
        assert rows[0]["Time"] == datetime(2023, 1, 1, 9)
        assert rows[0]["source_file"] == "upload2.csv"
        assert rows[0]["v"] == 3.0

    def test_empty_buffer_rejected(self, spark):
        from time_series_loader_spark.sources.memory import validate_buffers

        ok, rejects = validate_buffers([("a.csv", b"x;y\n1;2\n"), ("e.csv", b"")])
        assert len(ok) == 1 and rejects == {"e.csv": "empty_content"}

    def test_buffers_and_files_type_the_same_csv_alike(self, spark, tmp_path):
        from time_series_loader_spark.plans.loader import TimeSeriesLoader

        raw = b"ts;val\n2024-01-01 00:00:00;1,5\n2024-01-01 01:00:00;x\n"
        p = tmp_path / "slice.csv"
        p.write_bytes(raw)
        loading = LoadingConfig(delimiter=";", decimal=",")
        from_files = TimeSeriesLoader.from_files(
            spark, [str(p)], loading=loading
        ).initialize()
        from_buffers = TimeSeriesLoader.from_buffers(
            spark, [("slice.csv", raw)], loading=loading
        )
        # lineage columns differ on purpose (path vs buffer name); the
        # data columns must not
        data = ["ts", "val"]
        assert from_files.select(data).dtypes == from_buffers.select(data).dtypes
        assert from_files.select(data).collect() == from_buffers.select(data).collect()
        assert from_buffers.select(data).collect()[0] == (datetime(2024, 1, 1), 1.5)

    def test_schema_freeze_across_buffers(self, spark):
        from time_series_loader_spark.sources.memory import load_buffers

        with pytest.raises(ValueError, match="contract"):
            load_buffers(
                spark,
                [("a.csv", b"x;y\n1;2\n"), ("b.csv", b"x;z\n1;2\n")],
            )


class TestMultiFormat:
    def test_parquet_roundtrip_through_loader(self, spark, tmp_path):
        from time_series_loader_spark.sources.csv import load_csv_timeseries

        src = spark.createDataFrame(
            [(datetime(2023, 1, 1, h), float(h)) for h in range(4)],
            "ts TIMESTAMP, value DOUBLE",
        )
        p = str(tmp_path / "data.parquet")
        src.coalesce(1).write.parquet(p)
        df = load_csv_timeseries(
            spark,
            [p],
            LoadingConfig(format="parquet", timestamp_column="ts"),
        )
        rows = df.collect()
        assert len(rows) == 4
        assert dict(df.dtypes)["value"] == "double"  # typed cols untouched
        assert rows[0]["ts"] == datetime(2023, 1, 1, 0)


class TestTimestampParse:
    def test_multi_format_coalesce(self, spark):
        df = spark.createDataFrame(
            [("01/02/2023 10:30",), ("2023-02-01 10:30:00",), ("garbage",)],
            "s STRING",
        )
        out = df.select(
            parse_timestamp_multi(
                "s", "dd/MM/yyyy HH:mm", ("yyyy-MM-dd HH:mm:ss",)
            ).alias("t")
        ).collect()
        assert out[0]["t"] == datetime(2023, 2, 1, 10, 30)  # DMY primary
        assert out[1]["t"] == datetime(2023, 2, 1, 10, 30)  # fallback
        assert out[2]["t"] is None  # null, not error

    def test_date_order_families(self, spark):
        df = spark.createDataFrame([("02/03/2023 00:00",)], "s STRING")
        dmy = df.select(parse_timestamp_multi("s", date_order="DMY").alias("t")).collect()[0]["t"]
        mdy = df.select(parse_timestamp_multi("s", date_order="MDY").alias("t")).collect()[0]["t"]
        assert dmy == datetime(2023, 3, 2)
        assert mdy == datetime(2023, 2, 3)


def test_custom_validation_strategy():
    from time_series_loader_spark.sources.metadata import FileMeta
    from time_series_loader_spark.sources.validation import is_valid_sequence

    calls = []

    def validator(metas):
        calls.append(len(metas))
        return False, ["custom says no"]

    cfg = TimeSeriesConfig(strategy=ValidationStrategy.CUSTOM, validator=validator)
    ok, msgs = is_valid_sequence([FileMeta("a.csv")], cfg)
    assert not ok and msgs == ["custom says no"] and calls == [1]

    with pytest.raises(ValueError, match="CUSTOM strategy requires"):
        is_valid_sequence([], TimeSeriesConfig(strategy=ValidationStrategy.CUSTOM))


def test_lenient_parse_udf(spark):
    from time_series_loader_spark.functions.timeparse import lenient_parse_udf

    df = spark.createDataFrame(
        [("01/02/2023",), ("2023-06-07 10:30:00",), ("garbage",), (None,)],
        "s STRING",
    )
    out = df.select(lenient_parse_udf("DMY")(F.col("s")).alias("t")).collect()
    assert out[0]["t"] == datetime(2023, 2, 1)   # dayfirst
    assert out[1]["t"] == datetime(2023, 6, 7, 10, 30)
    assert out[2]["t"] is None
    assert out[3]["t"] is None


def test_resize_bmp_real_pixels(spark):
    """Nearest-neighbor resize on a REAL 24bpp BMP with a known pixel
    pattern: dimensions change, sampled pixels land where expected."""
    import struct

    import numpy as np

    from time_series_loader_spark.operators.multimodal import (
        decode_payload,
        make_bmp,
        resize_bmp,
    )

    w, h = 6, 4
    base = bytearray(make_bmp(w, h))
    row = ((24 * w + 31) // 32) * 4
    # paint pixel (x=4, y_bottom=2) red (BGR: 0,0,255)
    off = 54 + 2 * row + 4 * 3
    base[off : off + 3] = bytes([0, 0, 255])
    small = resize_bmp(bytes(base), 3, 2)
    d = decode_payload(small)
    assert (d["width"], d["height"]) == (3, 2)
    # x=4 of 6 → out x = 2 (xi = floor(x_out*6/3) picks src 4 at out 2);
    # y=2 of 4 → out y = 1
    orow = ((24 * 3 + 31) // 32) * 4
    px = np.frombuffer(small, dtype=np.uint8, count=orow * 2, offset=54).reshape(2, orow)
    assert tuple(px[1, 2 * 3 : 2 * 3 + 3]) == (0, 0, 255)
    assert px[0, :9].sum() == 0  # the other row stayed black


def test_sample_wav_frames_real(spark):
    from time_series_loader_spark.operators.multimodal import (
        decode_payload,
        make_wav,
        sample_wav_frames,
    )

    p = make_wav(16000, 2, 100)
    out = sample_wav_frames(p, every=4)
    d = decode_payload(out)
    assert d["n_frames"] == 25
    assert d["sample_rate"] == 16000 and d["n_channels"] == 2


def test_transform_payloads_kernel(spark):
    """The Spark-side plumbing: images resize, audio passes through
    unchanged under op='resize' (transformed=false), and vice versa."""
    from time_series_loader_spark.operators.multimodal import (
        decode_features,
        synthesize_payloads,
        transform_payloads,
    )

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id LONG")
    payloads = synthesize_payloads(docs, "doc_id")
    resized = transform_payloads(payloads, "resize", out_w=5, out_h=7)
    rows = {r["doc_id"]: r for r in resized.collect()}
    # even ids are BMP images (synthesize_payloads contract) → resized;
    # odd ids are WAV → pass through untransformed under op='resize'
    assert all(r["transformed"] == (i % 2 == 0) for i, r in rows.items())

    feats = {r["doc_id"]: r for r in decode_features(resized).collect()}
    for i in rows:
        if i % 2 == 0:
            assert (feats[i]["width"], feats[i]["height"]) == (5, 7)

    sampled = transform_payloads(payloads, "frame_sample", every=2)
    before = {r["doc_id"]: r for r in decode_features(payloads).collect()}
    after = {r["doc_id"]: r for r in decode_features(sampled).collect()}
    for i in rows:
        if i % 2 == 1:
            assert after[i]["n_frames"] == (before[i]["n_frames"] + 1) // 2


def test_transform_payloads_robust_to_garbage_and_wrong_encodings(spark):
    """Review findings: corrupt/truncated payloads and non-16-bit-PCM
    WAVs must pass through flagged, never crash the stage or emit a
    corrupt container."""
    import struct

    from time_series_loader_spark.operators.multimodal import (
        make_wav,
        transform_payloads,
    )

    # an 8-bit PCM WAV: fmt chunk says bits=8, block=1
    w8 = bytearray(make_wav(8000, 1, 10))
    struct.pack_into("<H", w8, 34, 8)   # bits_per_sample = 8
    struct.pack_into("<H", w8, 32, 1)   # block_align = 1
    rows = [
        (0, b"BM\x00\x00"),            # truncated BMP header
        (1, b"RIFF1234WAVE"),           # WAV magic, no chunks
        (2, None),                      # null payload
        (3, bytes(w8)),                 # wrong sample width
        (4, b"\x89PNG garbage"),        # unknown format
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    for op in ("resize", "frame_sample"):
        out = {r["doc_id"]: r for r in transform_payloads(df, op).collect()}
        assert all(not r["transformed"] for r in out.values()), op
    import pytest as _pt

    with _pt.raises(ValueError, match="every"):
        transform_payloads(df, "frame_sample", every=0)
