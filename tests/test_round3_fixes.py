"""Regression tests for the round-3 ADVICE fixes: byte-string conf parsing,
aspect-preserving sidecar fit, DB-path F6 area filter, checkpoint commit
exception (the latter lives in test_checkpoint.py)."""

import numpy as np
import pytest

from ocr_spark.operators.dedup import byte_string_as_bytes


class TestByteStringAsBytes:
    """spark.sql.files.maxPartitionBytes may carry a unit suffix; digit-only
    parsing read '128m' as 128 bytes and silently skipped the protective
    repartition exactly when the user tuned the conf."""

    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("134217728b", 134217728),
            ("134217728", 134217728),
            ("128m", 128 << 20),
            ("64MB", 64 << 20),
            ("1g", 1 << 30),
            ("2GB", 2 << 30),
            ("512k", 512 << 10),
            ("512kb", 512 << 10),
            ("1t", 1 << 40),
            (" 16m ", 16 << 20),
        ],
    )
    def test_suffixes(self, raw, expected):
        assert byte_string_as_bytes(raw) == expected

    @pytest.mark.parametrize("raw", ["", "garbage", "12x", "m128", "1.5g"])
    def test_unparseable_falls_back_to_default(self, raw):
        assert byte_string_as_bytes(raw) == 134217728
        assert byte_string_as_bytes(raw, default=7) == 7


class TestFitPadGray:
    def test_aspect_preserved_landscape(self):
        from ocr_spark.operators.dispatch import _fit_pad_gray

        g = np.full((48, 64), 200, np.uint8)  # ratio 0.5 → 24x32 content
        out = _fit_pad_gray(g, 32)
        assert out.shape == (32, 32)
        assert (out[:24, :32] > 0).all()
        assert (out[24:] == 0).all()  # bottom zero-pad, no distortion

    def test_aspect_preserved_portrait(self):
        from ocr_spark.operators.dispatch import _fit_pad_gray

        g = np.full((64, 16), 100, np.uint8)  # ratio 0.5 → 32x8 content
        out = _fit_pad_gray(g, 32)
        assert out.shape == (32, 32)
        assert (out[:, :8] > 0).all()
        assert (out[:, 8:] == 0).all()  # right zero-pad

    def test_native_size_identity(self):
        from ocr_spark.operators.dispatch import _fit_pad_gray

        rng = np.random.default_rng(3)
        g = rng.integers(0, 256, (32, 32), np.uint8)
        assert (_fit_pad_gray(g, 32) == g).all()


class TestReviewFindings:
    """Round-3 code-review findings (each confirmed by reproduction)."""

    def test_pdf_et_inside_string_not_truncating(self):
        from ocr_spark.operators.pdf_layout import pdf_parse_blocks

        body = (
            "%PDF-1.4\nBT /F1 12 Tf 10 700 Td (BUDGET report) Tj "
            "0 -14 Td (second line) Tj ET"
        )
        blocks, _, _ = pdf_parse_blocks(body)
        assert [b["text"] for b in blocks] == ["BUDGET report", "second line"]

    def test_pdf_bt_inside_string_not_fabricating(self):
        from ocr_spark.operators.pdf_layout import pdf_parse_blocks

        body = "%PDF-1.4\nBT /F1 12 Tf 10 700 Td (contains BT and ET words) Tj ET"
        blocks, _, _ = pdf_parse_blocks(body)
        assert [b["text"] for b in blocks] == ["contains BT and ET words"]

    def test_decode_image_explicit_synthetic_never_sniffed(self):
        from ocr_spark.operators.media_kernels import IMG_SIDE
        from ocr_spark.operators.multimodal import decode_image

        raw = bytearray(IMG_SIDE * IMG_SIDE)
        for magic in (b"BM", b"\xff\xd8"):
            raw[: len(magic)] = magic
            img = decode_image(bytes(raw), codec="synthetic")
            assert img.shape == (IMG_SIDE, IMG_SIDE)

    def test_sidecar_magic_collision_falls_back(self):
        """A raw synthetic payload that happens to start with 'BM' must not
        degrade the doc to an error envelope."""
        import pyarrow as pa

        from ocr_spark.operators.dispatch import MEDIA_SIDECAR_COL, _resolve_sidecar
        from ocr_spark.operators.media_kernels import IMG_SIDE

        raw = bytearray(range(256)) * (IMG_SIDE * IMG_SIDE // 256)
        raw[:2] = b"BM"
        batch = pa.RecordBatch.from_arrays(
            [pa.array([[("m", bytes(raw))]], type=pa.map_(pa.string(), pa.binary()))],
            names=[MEDIA_SIDECAR_COL],
        )
        grays, ok, errs = _resolve_sidecar(
            batch, ["m"], np.array([0]), np.array([0])
        )
        assert ok[0] and not errs
        assert grays[0].shape == (IMG_SIDE, IMG_SIDE)

    def test_near_dedup_honors_id_and_text_cols(self, spark):
        from ocr_spark.operators.dedup import near_dedup

        df = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog today"),
                (11, "the quick brown fox jumps over the lazy dog today"),
                (12, "entirely different content about query optimizers"),
            ],
            "page_id long, body string",
        )
        kept = {
            r.page_id
            for r in near_dedup(
                df, method="simhash", id_col="page_id", text_col="body",
                max_hamming=3,
            ).collect()
        }
        assert kept == {10, 12}

    def test_parquet_rowcount_rejects_multi_relation_plans(self, spark, tmp_path):
        from ocr_spark.operators.similarity import parquet_rowcount

        p1, p2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
        spark.range(10).write.parquet(p1)
        spark.range(20).write.parquet(p2)
        a, b = spark.read.parquet(p1), spark.read.parquet(p2)
        assert parquet_rowcount(a) == 10
        assert parquet_rowcount(a.join(b, "id")) is None  # not 30
        assert parquet_rowcount(a.unionByName(b)) is None


class TestDbF6AreaFilter:
    def test_sheared_sliver_dropped(self, monkeypatch):
        """A sheared parallelogram with both edge norms >= min_box_size but
        shoelace area < min_box_size² passes F4 yet must be dropped by F6
        before warping (ref local_ocr_engine.py:294-296) — previously the DB
        path skipped the area check the quad path applies."""
        import ocr_spark.operators.db_detect as dbd

        # edges ~5px long but nearly collinear: area = |e1 x e2| ≈ 1.5 < 9
        sliver = np.array(
            [[0.0, 0.0], [5.0, 0.3], [10.0, 0.9], [5.0, 0.6]], dtype=np.float64
        )
        from ocr_spark.operators.quad_geometry import quad_areas

        assert quad_areas(sliver[None])[0] < 9.0
        monkeypatch.setattr(dbd, "db_detect_quads", lambda g, **kw: sliver[None])
        text, conf = dbd.recognize_db_image(np.full((32, 32), 128, np.uint8))
        assert text == "" and conf == 0.0
