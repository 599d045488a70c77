"""Extraction pipeline lifecycle + multimodal mapInPandas plumbing."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from enexory_parquet_export_spark import pipeline as P
from enexory_parquet_export_spark.functions.datetime import SENTINEL_DT
from enexory_parquet_export_spark.operators import multimodal as M
from enexory_parquet_export_spark.sources.tables import load_table
from enexory_parquet_export_spark.sources.writer import (
    list_days,
    read_day_partitioned,
)

SRC_SCHEMA = "id bigint, date_time string, value double, ts string"


def src(spark, rows):
    return spark.createDataFrame(rows, SRC_SCHEMA)


ROWS_V1 = [
    (1, "2009-12-31 23:00:00", 1.0, "2010-01-01 00:00:00"),   # historical
    (2, "2010-01-05 01:00:00", 2.0, "2010-01-05 02:00:00"),
    (3, "2010-01-06 03:00:00", None, "2010-01-06 04:00:00"),
    (4, "not a datetime", 4.0, "2010-01-06 05:00:00"),        # → sentinel day
]


def _forty_days():
    """``ROWS_V1``'s 4 days (the sentinel day among them) plus one row
    on each of 36 more days: a 40-day mirror."""
    return ROWS_V1 + [(10 + d, f"2010-02-{d:02d} 01:00:00", 1.0,
                       f"2010-02-{d:02d} 02:00:00") for d in range(1, 29)] \
        + [(40 + d, f"2010-03-{d:02d} 01:00:00", 1.0,
            f"2010-03-{d:02d} 02:00:00") for d in range(1, 9)]


class TestPipeline:
    def test_backfill_then_incremental(self, spark, tmp_path):
        mirror = str(tmp_path / "mirror")
        report = P.run_sync(spark, src(spark, ROWS_V1), mirror)
        assert report.matches and report.difference == 0
        days = list_days(spark, mirror)
        assert "2009-12-31" in days and "2010-01-05" in days
        assert "0001-01-01" in days  # sentinel rows land in the sentinel day

        # late row in the newest day + a brand-new day
        rows_v2 = ROWS_V1 + [
            (5, "2010-01-06 23:00:00", 5.0, "2010-01-07 00:00:00"),
            (6, "2010-01-07 01:00:00", 6.0, "2010-01-07 02:00:00"),
        ]
        report2 = P.run_sync(spark, src(spark, rows_v2), mirror)
        assert report2.matches, report2
        assert report2.mirror_rows == 6

    def test_incremental_is_idempotent(self, spark, tmp_path):
        mirror = str(tmp_path / "m2")
        P.run_sync(spark, src(spark, ROWS_V1), mirror)
        before = sorted(map(tuple, read_day_partitioned(spark, mirror).collect()))
        P.incremental_sync(spark, src(spark, ROWS_V1), mirror)
        after = sorted(map(tuple, read_day_partitioned(spark, mirror).collect()))
        assert before == after

    def test_resume_point_skips_sentinel(self, spark, tmp_path):
        """The resume point is the newest day, read from the listing;
        the sentinel day holds no real date and never counts."""
        mirror = str(tmp_path / "m3")
        P.run_sync(spark, src(spark, ROWS_V1), mirror)
        assert P.find_resume_point(spark, mirror) == "2010-01-06"

    def test_resume_point_of_sentinel_only_mirror_is_none(self, spark, tmp_path):
        mirror = str(tmp_path / "m3s")
        P.run_sync(spark, src(spark, [ROWS_V1[3]]), mirror)
        assert list_days(spark, mirror) == [SENTINEL_DT[:10]]
        assert P.find_resume_point(spark, mirror) is None

    def test_sync_resumes_past_garbage_in_newest_day(self, spark, tmp_path):
        """A stray file in the newest day holding a garbage ``date_time``
        ("garbage" sorts above every digit) does not move the resume
        point: the next night is still loaded, and the newest day is
        rewritten from the source, which drops the stray row."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        mirror = str(tmp_path / "m3g")
        P.run_sync(spark, src(spark, ROWS_V1), mirror)
        pq.write_table(pa.table({"id": pa.array([99], pa.int64()),
                                 "date_time": ["garbage"],
                                 "value": pa.array([9.0], pa.float64()),
                                 "ts": ["2010-01-06 09:00:00"]}),
                       str(tmp_path / "m3g" / "day=2010-01-06" / "stray.parquet"))
        rows = ROWS_V1 + [(5, "2010-01-07 01:00:00", 5.0, "2010-01-07 02:00:00")]
        rep = P.run_sync(spark, src(spark, rows), mirror)
        # the totals alone would match: the stray row stands in for the
        # night that was not loaded
        assert rep.matches and not rep.per_day_mismatches, rep
        assert not (tmp_path / "m3g" / "day=2010-01-06" / "stray.parquet").exists()

    def test_late_row_before_resume_day_leaves_its_day_whole(self, spark,
                                                             tmp_path):
        """A late row whose raw text passes the resume filter but whose
        day is before the resume day (``/`` sorts after ``-``) is not
        loaded: its day keeps its rows instead of being rewritten from
        the late row alone, and the audit names the day."""
        mirror = str(tmp_path / "m9")
        rows = [(1, "2010-01-01 01:00:00", 1.0, "2010-01-01 02:00:00"),
                (2, "2010-01-01 03:00:00", 2.0, "2010-01-01 04:00:00"),
                (3, "2010-01-06 01:00:00", 3.0, "2010-01-06 02:00:00")]
        P.run_sync(spark, src(spark, rows), mirror)
        rows.append((4, "2010/01/01 12:00:00", 4.0, "2010-01-06 05:00:00"))
        rep = P.run_sync(spark, src(spark, rows), mirror)
        assert rep.per_day_mismatches == [("2010-01-01", 3, 2)], rep
        day = read_day_partitioned(spark, mirror, days=["2010-01-01"])
        assert sorted(r["id"] for r in day.collect()) == [1, 2]

    def test_first_sync_keeps_every_sentinel_row(self, spark, tmp_path):
        """The first sync of an empty mirror writes every row in one
        write: the sentinel day holds the zero-date row and the
        unparseable one."""
        mirror = str(tmp_path / "m10")
        rows = [(1, "2009-12-30 01:00:00", 1.0, "2009-12-30 02:00:00"),
                (2, "0000-00-00 00:00:00", 2.0, "2010-01-05 02:00:00"),
                (3, "not a datetime", 3.0, "2010-01-05 03:00:00"),
                (4, "2010-01-05 01:00:00", 4.0, "2010-01-05 02:00:00")]
        rep = P.run_sync(spark, src(spark, rows), mirror)
        assert rep.matches and not rep.per_day_mismatches, rep
        assert list_days(spark, mirror) == ["0001-01-01", "2009-12-30",
                                            "2010-01-05"]

    def test_first_sync_job_ceiling(self, spark, tmp_path, count_jobs):
        """The first sync of an empty mirror is one write plus the
        audit's aggregation; a separate backfill write before it, or a
        schema inference in the audit, adds jobs."""
        jobs, rep = count_jobs(P.run_sync, spark, src(spark, ROWS_V1),
                               str(tmp_path / "m11"))
        assert rep.matches
        assert len(jobs) <= 4, jobs

    def test_validate_flags(self, spark):
        flagged = P.validate(src(spark, ROWS_V1))
        bad = {r["id"] for r in flagged.filter(~F.col("valid")).collect()}
        assert bad == {4}

    def test_repair_fixes_only_bad_days(self, spark, tmp_path):
        mirror = str(tmp_path / "m4")
        # write a mirror containing one malformed date_time directly
        rows = [("2010-01-05", 2, "2010-01-05 01:00:00", 2.0, "2010-01-05 02:00:00"),
                ("2010-01-06", 3, "garbage", 3.0, "2010-01-06 04:00:00")]
        df = spark.createDataFrame(
            rows, "day string, id bigint, date_time string, value double, ts string")
        from enexory_parquet_export_spark.sources.writer import write_day_partitioned
        write_day_partitioned(df, mirror)
        fixed = P.repair(spark, mirror)
        assert fixed == 1
        out = read_day_partitioned(spark, mirror)
        assert out.filter(F.col("date_time") == SENTINEL_DT).count() == 1
        assert out.count() == 2


    def test_repair_moves_rows_into_sentinel_day_and_drops_emptied_day(
            self, spark, tmp_path):
        """A bad day whose only row moves to the sentinel day is deleted;
        the sentinel day keeps the rows it already had."""
        from enexory_parquet_export_spark.sources.writer import write_day_partitioned
        mirror = str(tmp_path / "m5")
        rows = [("0001-01-01", 1, SENTINEL_DT, 1.0, "2010-01-05 02:00:00"),
                ("2010-01-05", 2, "2010-01-05 01:00:00", 2.0, "2010-01-05 02:00:00"),
                ("2010-01-07", 3, "garbage", 3.0, "2010-01-07 04:00:00")]
        write_day_partitioned(spark.createDataFrame(
            rows, "day string, id bigint, date_time string, value double, ts string"),
            mirror)
        assert P.repair(spark, mirror) == 1
        assert list_days(spark, mirror) == ["0001-01-01", "2010-01-05"]
        sentinel = read_day_partitioned(spark, mirror) \
            .filter(F.col("day") == "0001-01-01")
        assert sorted(r["id"] for r in sentinel.collect()) == [1, 3]

    def test_row_integrity_reports_one_sided_days(self, spark, tmp_path):
        """Days only in the source and days only in the mirror are both
        reported, sorted by day, and the totals count every row."""
        from enexory_parquet_export_spark.sources.writer import write_day_partitioned
        mirror = str(tmp_path / "m6")
        write_day_partitioned(spark.createDataFrame(
            [("2010-01-05", 1, "2010-01-05 01:00:00", 1.0, "2010-01-05 02:00:00"),
             ("2010-01-05", 2, "2010-01-05 02:00:00", 2.0, "2010-01-05 03:00:00"),
             ("2010-01-02", 9, "2010-01-02 01:00:00", 9.0, "2010-01-02 02:00:00")],
            "day string, id bigint, date_time string, value double, ts string"),
            mirror)
        source = src(spark, [
            (1, "2010-01-05 01:00:00", 1.0, "2010-01-05 02:00:00"),
            (2, "2010-01-05 02:00:00", 2.0, "2010-01-05 03:00:00"),
            (3, "2010-01-08 01:00:00", 3.0, "2010-01-08 02:00:00"),
            (4, "not a datetime", 4.0, "2010-01-08 03:00:00")])
        rep = P.row_integrity(spark, source, mirror)
        assert (rep.source_rows, rep.mirror_rows, rep.matches, rep.difference) == \
            (4, 3, False, -1)
        assert rep.per_day_mismatches == [("0001-01-01", 1, 0),
                                          ("2010-01-02", 0, 1),
                                          ("2010-01-08", 1, 0)]

    def test_row_integrity_of_mirror_without_data_files(self, spark, tmp_path):
        """The audit declares the mirror's ``day`` schema instead of
        inferring it, so a mirror directory with no data files counts
        as zero rows on every day instead of failing the read."""
        mirror = tmp_path / "m9"
        mirror.mkdir()
        rep = P.row_integrity(spark, src(spark, ROWS_V1), str(mirror))
        assert (rep.source_rows, rep.mirror_rows, rep.matches, rep.difference) == \
            (4, 0, False, -4)
        assert rep.per_day_mismatches == [("0001-01-01", 1, 0),
                                          ("2009-12-31", 1, 0),
                                          ("2010-01-05", 1, 0),
                                          ("2010-01-06", 1, 0)]

    def test_run_sync_job_ceiling(self, spark, tmp_path, count_jobs):
        """An incremental sync plus audit on a small mirror (fewer than
        32 days, so partition discovery runs on the driver) stays within
        its job budget of 4: the write, then the audit's aggregation.  The
        resume point comes from the listing, and the audit reads the
        mirror with a declared ``day`` schema; a read of the mirror to
        find the resume point, a schema inference in the audit, or a
        re-read of the source adds jobs."""
        mirror = str(tmp_path / "m7")
        P.run_sync(spark, src(spark, ROWS_V1), mirror)
        rows = ROWS_V1 + [(5, "2010-01-07 01:00:00", 5.0, "2010-01-07 02:00:00")]
        jobs, rep = count_jobs(P.run_sync, spark, src(spark, rows), mirror)
        assert rep.matches
        assert len(jobs) <= 4, jobs

    def test_run_sync_job_ceiling_above_listing_threshold(
            self, spark, tmp_path, count_jobs):
        """On a 40-day mirror, past Spark's default threshold of 32
        paths for listing in a job of its own, the budget stays 4: the
        write, then the audit's aggregation.  The audit must see every
        day, and its listing runs on the driver (the session pins the
        threshold high); the resume point takes no job either, and the
        audit infers no schema."""
        mirror = str(tmp_path / "m8")
        P.run_sync(spark, src(spark, _forty_days()), mirror)
        assert len(list_days(spark, mirror)) == 40
        rows = _forty_days() + [(99, "2010-03-09 01:00:00", 5.0,
                                 "2010-03-09 02:00:00")]
        jobs, rep = count_jobs(P.run_sync, spark, src(spark, rows), mirror)
        assert rep.matches and not rep.per_day_mismatches, rep
        assert len(jobs) <= 4, jobs

    def test_repair_job_ceiling_above_listing_threshold(
            self, spark, tmp_path, count_jobs):
        """``repair`` of a clean 40-day mirror is its aggregation alone,
        2 jobs: the whole-mirror read lists its days on the driver and
        takes its schema from one file's footer there.  A listing job or
        a schema-inference job adds one each."""
        mirror = str(tmp_path / "m12")
        P.run_sync(spark, src(spark, _forty_days()), mirror)
        assert len(list_days(spark, mirror)) == 40
        jobs, fixed = count_jobs(P.repair, spark, mirror)
        assert fixed == 0
        assert len(jobs) <= 2, jobs


class TestMultimodal:
    def test_extract_features_deterministic(self, spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents").limit(20)
        media = M.media_from_documents(docs)
        feats = M.extract_features(media).collect()
        assert len(feats) == 20
        by_id = {r["media_id"]: r for r in feats}
        one = docs.filter(F.col("doc_id") == feats[0]["media_id"]).collect()[0]
        payload = one["text"].encode()
        want = hashlib.md5(payload).hexdigest()
        got = by_id[one["doc_id"]]
        assert got["content_md5"] == want
        assert got["byte_len"] == len(payload)
        assert len(got["features"]) == M.FEATURE_DIM
        assert all(0.0 <= f <= 1.0 for f in got["features"])

    def test_features_compose_with_ann(self, spark, sf_dir):
        from enexory_parquet_export_spark.operators.similarity import (
            sign_bucket,
        )
        docs = load_table(spark, sf_dir, "documents").limit(30)
        feats = M.extract_features(M.media_from_documents(docs))
        emb = feats.select("media_id",
                           F.col("features").cast("array<double>").alias("v"))
        assert emb.withColumn("b", sign_bucket(F.col("v"))).count() == 30

    def test_sample_frames_explosion(self, spark):
        rows = [(1, "video", b"abc", None, None, 3000),
                (2, "image", b"def", None, None, None),
                (3, "video", b"ghi", None, None, 500)]
        media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
        frames = M.sample_frames(media, every_ms=1000).collect()
        per = {}
        for r in frames:
            per.setdefault(r["media_id"], []).append(r["frame_idx"])
        assert sorted(per[1]) == [0, 1, 2]
        assert 2 not in per              # images produce no frames
        assert per[3] == [0]             # sub-interval video → 1 frame
        # frame hashes are deterministic
        f10 = next(r for r in frames
                   if r["media_id"] == 1 and r["frame_idx"] == 0)
        assert f10["frame_md5"] == hashlib.md5(
            b"abc" + (0).to_bytes(4, "big")).hexdigest()


def _bmp(width: int, height: int) -> bytes:
    """Minimal valid BMP: 14-byte file header + 40-byte BITMAPINFOHEADER,
    no pixel data needed for header parsing."""
    import struct
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24,
                       0, 0, 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(info), 0, 0, 54)
    return file_hdr + info


def _make_bmp_decoder(dim: int):
    """A REAL byte-format parser at the decode seam: reads width/height
    from the BMP header — proves the contract beyond the md5 stub.
    Built as a closure so cloudpickle ships it BY VALUE to workers
    (a test-module top-level function pickles by reference, which
    executors cannot import)."""
    def bmp_decoder(payload) -> list:
        import struct
        b = bytes(payload)
        if b[:2] != b"BM":
            raise ValueError("not a BMP payload")
        width, height = struct.unpack_from("<ii", b, 18)
        feats = [float(width), float(height)]
        return feats + [0.0] * (dim - len(feats))
    return bmp_decoder


def test_decode_seam_accepts_real_parser(spark):
    """Swapping the decoder via the parameter seam runs a genuine
    byte-format decode inside the Arrow-batched stage."""
    rows = [(1, "image", _bmp(640, 480), None, None, None),
            (2, "image", _bmp(32, 64), None, None, None)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    dec = _make_bmp_decoder(M.FEATURE_DIM)
    out = {r["media_id"]: r["features"]
           for r in M.extract_features(media, decoder=dec).collect()}
    assert out[1][:2] == [640.0, 480.0]
    assert out[2][:2] == [32.0, 64.0]
    assert all(len(v) == M.FEATURE_DIM for v in out.values())


def test_decode_seam_decoder_errors_surface(spark):
    import pytest as _pytest
    media = spark.createDataFrame(
        [(1, "image", b"not a bitmap", None, None, None)], M.MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="not a BMP"):
        M.extract_features(media,
                           decoder=_make_bmp_decoder(M.FEATURE_DIM)).collect()


def test_resize_media_stub_and_seam(spark, sf_dir):
    """Stub resize: typed dims + w*h payload bytes; the resizer seam
    accepts a real callable (here: a center-crop-ish truncation) and
    its output propagates through the Arrow batch path."""
    from enexory_parquet_export_spark.operators.multimodal import (
        media_from_documents,
        resize_media,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = media_from_documents(docs)
    out = resize_media(media, width=8, height=4).collect()
    assert len(out) == 20
    assert all(r["width"] == 8 and r["height"] == 4 for r in out)
    assert all(len(r["payload"]) == 32 for r in out)

    def crop(b: bytes, w: int, h: int) -> bytes:
        return b[: w * h].ljust(w * h, b"\0")

    out2 = {r["media_id"]: bytes(r["payload"])
            for r in resize_media(media, width=4, height=2,
                                  resizer=crop).collect()}
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, p in out2.items():
        assert p == src[mid][:8].ljust(8, b"\0")


class TestPnmCodec:
    """Round-6 native codec: PGM/PPM decode, encode, nearest-neighbor
    resize — real bytes through the same mapInPandas plumbing."""

    def _checker(self, w, h):
        import numpy as np
        y, x = np.mgrid[0:h, 0:w]
        r = ((x + y) % 2 * 255).astype(np.uint8)
        return np.stack([r, 255 - r, (x % 256).astype(np.uint8)], axis=2)

    def test_roundtrip_byte_exact(self):
        arr = self._checker(7, 5)
        payload = M.encode_pnm(arr)
        w, h, c, back = M.decode_pnm(payload)
        assert (w, h, c) == (7, 5, 3)
        assert (back == arr).all()
        # canonical encode∘decode is the byte identity
        assert M.encode_pnm(back) == payload
        # same-size nearest-neighbor resize is also the byte identity
        assert M.resize_pnm(payload, 7, 5) == payload

    def test_header_tolerates_comments_and_whitespace(self):
        arr = self._checker(3, 2)
        raster = M.encode_pnm(arr).split(b"255\n", 1)[1]
        messy = b"P6 # magic\n# a comment line\n  3\t2\r\n255\n" + raster
        w, h, c, back = M.decode_pnm(messy)
        assert (w, h, c) == (3, 2, 3) and (back == arr).all()
        # re-encode canonicalizes the messy header
        assert M.encode_pnm(back) == M.encode_pnm(arr)

    def test_grayscale_p5(self):
        import numpy as np
        arr = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
        payload = M.encode_pnm(arr)
        assert payload.startswith(b"P5\n4 3\n255\n")
        w, h, c, back = M.decode_pnm(payload)
        assert (w, h, c) == (4, 3, 1) and (back == arr).all()

    def test_resize_nearest_exact(self):
        import numpy as np
        arr = self._checker(4, 4)
        half = M.resize_pnm(M.encode_pnm(arr), 2, 2)
        _, _, _, got = M.decode_pnm(half)
        # floor(dst*src/dst) index map: rows/cols 0 and 2
        assert (got == arr[::2, ::2]).all()
        up = M.resize_pnm(M.encode_pnm(arr), 8, 8)
        _, _, _, got_up = M.decode_pnm(up)
        ys = (np.arange(8) * 4) // 8
        assert (got_up == arr[ys][:, ys]).all()

    def test_truncated_and_bad_magic_raise(self):
        import pytest
        with pytest.raises(ValueError):
            M.decode_pnm(b"P6\n4 4\n255\n\x00\x01")      # short raster
        with pytest.raises(ValueError):
            M.decode_pnm(b"P3\n1 1\n255\n0 0 0")         # ascii PPM
        with pytest.raises(ValueError):
            M.decode_pnm(b"P6\n1 1\n65535\n\x00\x00")    # 16-bit maxval

    def test_extract_features_real_pixels_through_spark(self, spark):
        import numpy as np
        dark = M.encode_pnm(np.zeros((4, 4, 3), dtype=np.uint8))
        light = M.encode_pnm(np.full((4, 4, 3), 255, dtype=np.uint8))
        media = spark.createDataFrame(
            [(1, "image", bytearray(dark), 4, 4, None),
             (2, "image", bytearray(light), 4, 4, None),
             (3, "audio", bytearray(b"not pnm"), None, None, 1000)],
            M.MEDIA_SCHEMA)
        got = {r["media_id"]: r["features"]
               for r in M.extract_features(media).collect()}
        assert got[1][:3] == [0.0, 0.0, 0.0]        # dark means
        assert got[2][:3] == [1.0, 1.0, 1.0]        # light means
        assert got[1][4] == 1.0                      # all mass in bin 0
        assert got[2][15] == 1.0                     # all mass in bin 11
        # non-PNM payload falls back to the deterministic stub
        # (schema is float32, so compare after the same truncation)
        import numpy as np
        assert got[3] == [float(np.float32(v))
                          for v in M._decode_stub(b"not pnm")]

    def test_resize_media_real_codec_through_spark(self, spark):
        arr = self._checker(6, 6)
        media = spark.createDataFrame(
            [(1, "image", bytearray(M.encode_pnm(arr)), 6, 6, None)],
            M.MEDIA_SCHEMA)
        out = M.resize_media(media, width=3, height=3).collect()[0]
        _, _, _, got = M.decode_pnm(bytes(out["payload"]))
        assert (got == arr[::2, ::2]).all()


class TestPnmRobustness:
    """r6 ADVICE closures: corrupt payloads degrade per-row (never a
    stage death) and sub-255 maxval inputs are normalized on decode."""

    def test_maxval_rescaled_on_decode(self):
        import numpy as np
        # a maxval=15 PGM: sample 15 must read as full-scale 255, not
        # near-black
        payload = b"P5\n2 1\n15\n" + bytes([15, 0])
        w, h, c, arr = M.decode_pnm(payload)
        assert (w, h, c) == (2, 1, 1)
        assert arr.ravel().tolist() == [255, 0]
        # mid-scale is exact integer s*255//maxval
        payload = b"P5\n1 1\n15\n" + bytes([7])
        assert M.decode_pnm(payload)[3].ravel().tolist() == [7 * 255 // 15]
        # canonical inputs untouched
        arr = np.arange(6, dtype=np.uint8).reshape(2, 3, 1)
        assert (M.decode_pnm(M.encode_pnm(arr))[3] == arr).all()

    def test_corrupt_pnm_degrades_per_row_in_spark(self, spark):
        import numpy as np
        good = M.encode_pnm(np.full((2, 2, 1), 9, dtype=np.uint8))
        rows = [(1, "image", good, None, None, 0),
                (2, "image", b"P5\n4 4\n255\n\x01\x02", None, None, 0),  # truncated
                (3, "image", b"P6 9999999 9999999 255 ", None, None, 0)]
        media = spark.createDataFrame(
            rows, "media_id bigint, kind string, payload binary, "
                  "width int, height int, duration_ms bigint")
        feats = {r["media_id"]: r["features"]
                 for r in M.extract_features(media).collect()}
        assert len(feats) == 3                       # stage survived
        assert abs(feats[1][0] - 9 / 255.0) < 1e-6   # real pixel path
        stub = M._decode_stub(rows[1][2])            # per-row stub
        assert all(abs(a - b) < 1e-6 for a, b in zip(feats[2], stub))
        out = {r["media_id"]: r["payload"]
               for r in M.resize_media(media, width=2, height=2).collect()}
        assert len(out) == 3
        assert bytes(out[1]) == good                 # real resize path
        assert len(bytes(out[2])) == 4               # stub pseudo-pixels


class TestWavCodec:
    """Round-7 native codec: RIFF/PCM WAV decode, encode,
    nearest-neighbor resample — the audio analog of TestPnmCodec,
    real bytes through the same mapInPandas seams."""

    def _tone(self, n=480, ch=2):
        import numpy as np
        t = np.arange(n, dtype=np.int64)
        left = ((t * 1103 + 7) % 65536 - 32768).astype(np.int16)
        right = ((t * 331) % 65536 - 32768).astype(np.int16)
        return np.stack([left, right], axis=1)[:, :ch]

    def test_roundtrip_byte_exact(self):
        s = self._tone()
        payload = M.encode_wav(s, 8000)
        rate, ch, back = M.decode_wav(payload)
        assert (rate, ch) == (8000, 2)
        assert (back == s).all()
        # canonical encode∘decode is the byte identity
        assert M.encode_wav(back, rate) == payload
        # same-rate nearest-neighbor resample is also the byte identity
        assert M.resample_wav(payload, 8000) == payload

    def test_8bit_normalized_on_decode(self):
        import numpy as np
        raw = np.array([0, 128, 255], dtype=np.uint8)
        body = raw.tobytes()
        fmt = (b"fmt " + (16).to_bytes(4, "little")
               + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
               + (8000).to_bytes(4, "little")
               + (8000).to_bytes(4, "little")
               + (1).to_bytes(2, "little") + (8).to_bytes(2, "little"))
        data = b"data" + len(body).to_bytes(4, "little") + body
        payload = (b"RIFF" + (4 + len(fmt) + len(data)).to_bytes(4, "little")
                   + b"WAVE" + fmt + data)
        rate, ch, arr = M.decode_wav(payload)
        assert (rate, ch) == (8000, 1)
        assert arr.ravel().tolist() == [(-128) * 256, 0, 127 * 256]

    def test_resample_halves_and_is_deterministic(self):
        s = self._tone(100, 1)
        payload = M.encode_wav(s, 8000)
        down = M.resample_wav(payload, 4000)
        rate, _ch, arr = M.decode_wav(down)
        assert rate == 4000 and len(arr) == 50
        # src_idx = floor(dst·src/dst_rate): every kept sample is an
        # original sample at the doubled stride
        assert (arr.ravel() == s.ravel()[::2]).all()
        assert M.resample_wav(payload, 4000) == down

    def test_truncated_and_bad_magic_raise(self):
        import pytest
        s = self._tone(10, 1)
        payload = M.encode_wav(s, 8000)
        with pytest.raises(ValueError):
            M.decode_wav(payload[:-3])      # truncated data
        with pytest.raises(ValueError):
            M.decode_wav(b"RIFX" + payload[4:])
        with pytest.raises(ValueError):
            M._wav_chunks(payload[:20])     # missing data chunk

    def test_extract_features_real_samples_through_spark(self, spark):
        import numpy as np
        silent = M.encode_wav(np.zeros((64, 1), dtype=np.int16), 8000)
        loud = M.encode_wav(np.full((64, 1), 32767, dtype=np.int16), 8000)
        media = spark.createDataFrame(
            [(1, "audio", bytearray(silent), None, None, 8),
             (2, "audio", bytearray(loud), None, None, 8),
             (3, "audio", bytearray(b"not wav bytes"), None, None, 8)],
            M.MEDIA_SCHEMA)
        got = {r["media_id"]: r["features"]
               for r in M.extract_features(media).collect()}
        assert got[1][0] == 0.0 and got[1][1] == 0.0   # silent mean/rms
        assert got[1][4] == 1.0                        # all mass bin 0
        assert got[2][3] > 0.999                       # loud peak
        assert got[2][15] == 1.0                       # all mass bin 11
        assert got[3] == [float(np.float32(v))
                          for v in M._decode_stub(b"not wav bytes")]

    def test_corrupt_wav_degrades_per_row_in_spark(self, spark):
        import numpy as np
        ok = M.encode_wav(self._tone(32, 1), 8000)
        corrupt = ok[:-5]                     # truncated raster
        media = spark.createDataFrame(
            [(1, "audio", bytearray(ok), None, None, 4),
             (2, "audio", bytearray(corrupt), None, None, 4)],
            M.MEDIA_SCHEMA)
        got = {r["media_id"]: r["features"]
               for r in M.extract_features(media).collect()}
        assert got[1] == [float(np.float32(v))
                          for v in M.wav_features(ok)]
        assert got[2] == [float(np.float32(v))
                          for v in M._decode_stub(corrupt)]


class TestJpegSeam:
    """Import-guarded PIL seam (r8): real JPEG decode when pillow is
    installed, deterministic stub degradation in this container."""

    def test_is_jpeg_sniff(self):
        from enexory_parquet_export_spark.operators.multimodal import (
            is_jpeg, is_pnm, is_wav)
        j = b"\xff\xd8\xff\xe0" + b"\x00" * 16
        assert is_jpeg(j) and not is_pnm(j) and not is_wav(j)
        assert not is_jpeg(b"P6 1 1 255 \x00\x00\x00")

    def test_decode_auto_jpeg_branch(self):
        from enexory_parquet_export_spark.operators import multimodal as M

        payload = b"\xff\xd8\xff\xe0" + bytes(range(64))
        got = M._decode_auto(payload)
        assert len(got) == M.FEATURE_DIM
        if M._pil():
            # real decode path: a 4-byte-header fake JPEG is corrupt,
            # so PIL raises and the row degrades to the stub
            assert got == M._decode_stub(payload)
        else:
            # no pillow in this container: jpeg_features must raise
            # ValueError (per-row degradation contract), and the auto
            # seam must return the deterministic stub
            import pytest
            with pytest.raises(ValueError, match="PIL unavailable"):
                M.jpeg_features(payload)
            assert got == M._decode_stub(payload)
        # determinism across calls (task-retry safety)
        assert got == M._decode_auto(payload)
