"""mpes loader tests (S4/S5): stream assembly, ms-marker timestamp
synthesis, timed dataframe, count rate, run-ID resolution — against the
reference's fill-loop semantics (sed/loader/mpes/loader.py:267-417)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sed_binning_spark.loaders.mpes import (
    MpesLoader,
    append_event_timestamps,
    count_rate_from_markers,
    elapsed_time_from_markers,
    event_timestamp_expr,
    event_timestamps_np,
    get_files_from_run_id,
    streams_to_dataframe,
    timed_dataframe_from_markers,
)


def _reference_fill(n_events, ms_marker, start_time):
    """The reference's literal marker fill loop (mpes loader.py:325-343)."""
    ts = np.zeros(n_events)
    ts[0 : ms_marker[0]] = start_time
    for i in range(len(ms_marker) - 1):
        ts[ms_marker[i] : ms_marker[i + 1]] = start_time + (i + 1) / 1000
    ts[ms_marker[-1] :] = start_time + len(ms_marker) / 1000
    return ts


def test_event_timestamps_match_reference_loop():
    rng = np.random.default_rng(3)
    # monotone markers with duplicates (documented by the reference)
    marker = np.sort(rng.integers(0, 500, size=40))
    ts = event_timestamps_np(500, marker, 1.7e9)
    np.testing.assert_array_equal(ts, _reference_fill(500, marker, 1.7e9))


def test_streams_to_dataframe(spark):
    streams = {
        "Stream_0": np.arange(100, dtype=np.float64),
        "Stream_1": np.arange(100, dtype=np.float64) * 2,
    }
    df = streams_to_dataframe(
        spark, streams, alias_dict={"Stream_0": "X", "Stream_1": "Y"},
        time_stamps=True, ms_marker=np.array([10, 30, 30, 70]), start_time=100.0,
    )
    assert set(df.columns) == {"X", "Y", "timeStamps", "file_id", "row_id"}
    dt = dict(df.dtypes)
    assert dt["X"] == "float" and dt["timeStamps"] == "double"
    pdf = df.toPandas().sort_values("row_id")
    assert pdf.row_id.tolist() == list(range(100))
    np.testing.assert_array_equal(
        pdf.timeStamps.to_numpy(),
        _reference_fill(100, np.array([10, 30, 30, 70]), 100.0),
    )


def test_streams_length_mismatch(spark):
    with pytest.raises(ValueError, match="differ in length"):
        streams_to_dataframe(spark, {"a": np.zeros(3), "b": np.zeros(4)})


def test_append_event_timestamps_udf_and_expr(spark, events_df):
    marker = np.array([100, 400, 400, 2000, 5000])
    out = append_event_timestamps(events_df, marker, 50.0)
    got = out.select("row_id", "timeStamps").toPandas().sort_values("row_id")
    want = 50.0 + np.searchsorted(marker, got.row_id.to_numpy(), side="right") / 1000.0
    np.testing.assert_array_equal(got.timeStamps.to_numpy(), want)
    # pure-expression twin agrees with the UDF
    expr_out = (
        events_df.withColumn("ts2", event_timestamp_expr(marker, 50.0))
        .select("row_id", "ts2").toPandas().sort_values("row_id")
    )
    np.testing.assert_array_equal(expr_out.ts2.to_numpy(), want)


def test_timed_dataframe_samples_marker_positions(spark):
    streams = {"v": np.arange(50, dtype=np.float64) * 10}
    ev = streams_to_dataframe(spark, streams)
    marker = np.array([1, 5, 5, 20, 49])
    timed = timed_dataframe_from_markers(
        ev, marker, start_time=7.0, time_stamps=True,
    ).toPandas().sort_values("ms_id")
    # row i carries the stream value at event index marker[i]-1
    np.testing.assert_array_equal(timed.v.to_numpy(), (marker - 1) * 10.0)
    np.testing.assert_array_equal(
        timed.timeStamps.to_numpy(), 7.0 + np.arange(5) / 1000.0,
    )


def test_count_rate_and_elapsed():
    marker = np.array([0, 10, 30, 60, 100], dtype=float)
    rate, secs = count_rate_from_markers(marker)
    np.testing.assert_allclose(secs, np.arange(5) / 1000.0)
    np.testing.assert_allclose(rate[:-1], np.diff(marker) * 1000.0)
    assert rate[-1] == rate[-2]
    assert elapsed_time_from_markers(marker) == 5 / 1000.0


def test_get_files_from_run_id(tmp_path):
    sub = tmp_path / "raw" / "day1"
    sub.mkdir(parents=True)
    for name in ["Scan0030_10.h5", "Scan0030_2.h5", "Scan0031_1.h5"]:
        (sub / name).touch()
    files = get_files_from_run_id(30, str(tmp_path))
    assert [f.rsplit("/", 1)[-1] for f in files] == ["Scan0030_2.h5", "Scan0030_10.h5"]
    with pytest.raises(FileNotFoundError, match="No files found for run 99"):
        get_files_from_run_id(99, str(tmp_path))


def test_mpes_loader_end_to_end(spark):
    files_data = [
        {
            "streams": {"Stream_0": np.arange(60, dtype=float)},
            "ms_marker": np.array([5, 20, 40]),
            "start_time": 1000.0,
        },
        {
            "streams": {"Stream_0": np.arange(40, dtype=float) + 100},
            "ms_marker": np.array([10, 35]),
            "start_time": 2000.0,
        },
    ]
    loader = MpesLoader(spark)
    ev, timed, meta = loader.read_dataframe(
        files_data=files_data, alias_dict={"Stream_0": "X"}, time_stamps=True,
    )
    assert ev.count() == 100
    assert ev.where(F.col("file_id") == 1).count() == 40
    tpdf = timed.toPandas()
    assert len(tpdf) == 5
    assert set(tpdf.file_id) == {0, 1}
    assert meta["elapsed_time"] == 5 / 1000.0
    rate, secs = loader.get_count_rate(files_data)
    assert len(rate) == len(secs) == 5
    assert loader.get_elapsed_time(files_data) == 5 / 1000.0


def test_files_data_alias_merge_matches_distributed_semantics(spark):
    """Caller/config aliases override PER STREAM on top of the file's own
    Name aliases — not all-or-nothing (both read paths must agree)."""
    from sed_binning_spark.loaders.mpes import MpesLoader

    files_data = [{
        "streams": {
            "Stream_0": np.arange(5, dtype=np.float32),
            "Stream_1": np.arange(5, dtype=np.float32) * 2,
        },
        "aliases": {"Stream_0": "X", "Stream_1": "Y"},
    }]
    ev, _, meta = MpesLoader(spark).read_dataframe(
        files_data=files_data, alias_dict={"Stream_0": "X2"},
        metadata={"scan": 42},
    )
    assert {"X2", "Y"} <= set(ev.columns)       # override + file alias kept
    assert meta["scan"] == 42                   # caller metadata preserved


def test_file_start_time_mtime_fallback(tmp_path):
    """Missing/unparseable FirstEventTimeStamp falls back to file mtime
    minus acquisition duration (reference mpes loader.py:312-325) — never a
    silent epoch-0 anchor."""
    import os

    from sed_binning_spark.loaders.mpes import _file_start_time

    p = tmp_path / "scan.h5"
    p.write_bytes(b"x")
    mtime = os.path.getmtime(p)
    marker = np.arange(1, 2001)                 # 2000 ms of acquisition

    assert _file_start_time(None, str(p), marker) == mtime - 2.0
    assert _file_start_time("not a date", str(p), marker) == mtime - 2.0
    assert _file_start_time(None, str(p), None) == mtime
    # attribute wins when parseable
    got = _file_start_time("2023-01-30T15:38:07.123+00:00", str(p), marker)
    assert abs(got - 1675093087.123) < 1e-6


# ---------------------------------------------------------------------------
# raw-file read: one file per partition, marker-sampled timed frame
# ---------------------------------------------------------------------------
def _write_scan(path, streams, markers=None, start="2024-01-01T00:00:10+00:00"):
    """A tiny mpes-style file: ``Stream_k`` float32 datasets Named by the
    ``streams`` keys, optional ``msMarkers``, and a FirstEventTimeStamp."""
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    for k, (alias, arr) in enumerate(streams.items()):
        w.add_dataset(f"/Stream_{k}", np.asarray(arr, dtype=np.float32))
        w.add_attr(f"/Stream_{k}", "Name", alias)
    if markers is not None:
        w.add_dataset("/msMarkers", np.asarray(markers, dtype=np.int64))
    w.add_attr("/", "FirstEventTimeStamp", start)
    w.write(str(path))
    return str(path)


def _timed_oracle(fid, streams, markers, start, time_stamps):
    """The reference's timed rows, one marker at a time: row i samples every
    stream at event index marker[i]-1 when that index exists."""
    n = len(next(iter(streams.values())))
    rows = []
    for i, m in enumerate(markers):
        j = int(m) - 1
        if not 0 <= j < n:
            continue
        row = {"file_id": fid, "ms_id": i}
        row.update({k: np.float32(v[j]) for k, v in streams.items()})
        if time_stamps:
            row["timeStamps"] = start + i / 1000.0
        rows.append(row)
    return rows


def _sorted_rows(pdf):
    pdf = pdf.sort_values(["file_id", "ms_id"], kind="stable").reset_index(drop=True)
    return pdf.to_dict("records")


@pytest.mark.parametrize("n_files", [1, 2, 5, 8, 16])
def test_mpes_raw_read_one_file_per_partition(spark, tmp_path, n_files):
    """Each file lands in exactly one partition of its own, for the event
    frame and the timed frame alike — no empty tasks, no task reading two
    files."""
    paths = [
        _write_scan(tmp_path / f"Scan0001_{i}.h5", {"X": np.arange(3 + i)}, [1, 2])
        for i in range(n_files)
    ]
    ev, timed, _ = MpesLoader(spark).read_dataframe(files=paths)
    for df in (ev, timed):
        assert df.rdd.getNumPartitions() == n_files
        owners = (
            df.select(F.spark_partition_id().alias("pid"), "file_id")
            .distinct().toPandas()
        )
        assert len(owners) == n_files
        assert owners.pid.is_unique and owners.file_id.is_unique
    counts = ev.groupBy("file_id").count().toPandas().set_index("file_id")["count"]
    assert counts.to_dict() == {i: 3 + i for i in range(n_files)}


@pytest.mark.parametrize("time_stamps", [False, True])
def test_mpes_raw_timed_frame_matches_marker_oracle(spark, tmp_path, time_stamps):
    """Marker 0 targets row -1 and is dropped, a marker equal to n samples
    the last event, markers above n are dropped, and duplicate markers each
    keep a row; ms_id is the marker's index, timeStamps start + ms_id/1000."""
    from datetime import datetime

    rng = np.random.default_rng(11)
    files = [
        ({"X": rng.random(10), "Y": rng.random(10)}, [0, 1, 3, 3, 7, 10, 11, 15],
         "2024-01-01T00:00:10+00:00"),
        ({"X": rng.random(6), "Y": rng.random(6)}, [2, 2, 6, 9],
         "2024-01-01T00:00:20+00:00"),
    ]
    paths = [_write_scan(tmp_path / f"Scan0002_{i}.h5", s, m, t)
             for i, (s, m, t) in enumerate(files)]
    _, timed, _ = MpesLoader(spark).read_dataframe(files=paths, time_stamps=time_stamps)
    want = []
    for fid, (s, m, t) in enumerate(files):
        start = datetime.fromisoformat(t).timestamp()
        want += _timed_oracle(fid, s, m, start, time_stamps)
    cols = ["file_id", "ms_id", "X", "Y"] + (["timeStamps"] if time_stamps else [])
    assert timed.columns == cols
    assert _sorted_rows(timed.toPandas()) == want


def test_mpes_raw_timed_frame_skips_files_without_markers(spark, tmp_path):
    """time_stamps=False reads files without msMarkers: their events are in
    the event frame, they add no timed rows, and a run with no markers at
    all has no timed frame."""
    from datetime import datetime

    s0, s2 = {"X": np.arange(8.0)}, {"X": np.arange(5.0) + 100}
    paths = [
        _write_scan(tmp_path / "Scan0003_0.h5", s0, [2, 4, 8]),
        _write_scan(tmp_path / "Scan0003_1.h5", {"X": np.arange(7.0)}),
        _write_scan(tmp_path / "Scan0003_2.h5", s2, [1, 1, 5]),
    ]
    ev, timed, meta = MpesLoader(spark).read_dataframe(files=paths)
    assert ev.count() == 20
    start = datetime.fromisoformat("2024-01-01T00:00:10+00:00").timestamp()
    want = (_timed_oracle(0, s0, [2, 4, 8], start, False)
            + _timed_oracle(2, s2, [1, 1, 5], start, False))
    assert _sorted_rows(timed.toPandas()) == want
    assert meta["elapsed_time"] == pytest.approx(6 / 1000.0)

    _, none, _ = MpesLoader(spark).read_dataframe(files=[paths[1]])
    assert none is None


@pytest.mark.parametrize("time_stamps", [False, True])
def test_mpes_raw_timed_frame_matches_files_data_path(spark, tmp_path, time_stamps):
    """The raw-file read and the injected-arrays read
    (timed_dataframe_from_markers) give the same timed rows for the same
    arrays, markers and start times."""
    from datetime import datetime

    rng = np.random.default_rng(5)
    files = [
        ({"X": rng.random(40), "t": rng.random(40)}, np.sort(rng.integers(0, 45, 12)),
         "2024-01-01T00:00:10+00:00"),
        ({"X": rng.random(25), "t": rng.random(25)}, np.array([0, 5, 5, 25, 30]),
         "2024-01-01T00:01:10+00:00"),
    ]
    paths = [_write_scan(tmp_path / f"Scan0004_{i}.h5", s, m, t)
             for i, (s, m, t) in enumerate(files)]
    files_data = [
        {"streams": {f"Stream_{k}": v for k, v in enumerate(s.values())},
         "aliases": {f"Stream_{k}": a for k, a in enumerate(s)},
         "ms_marker": m, "start_time": datetime.fromisoformat(t).timestamp()}
        for s, m, t in files
    ]
    _, raw, _ = MpesLoader(spark).read_dataframe(files=paths, time_stamps=time_stamps)
    _, injected, _ = MpesLoader(spark).read_dataframe(
        files_data=files_data, time_stamps=time_stamps,
    )
    assert _sorted_rows(raw.toPandas()) == _sorted_rows(
        injected.select(*raw.columns).toPandas(),
    )


def test_mpes_raw_read_names_truncated_file(spark, tmp_path):
    """Streams of unequal length fail naming the file, in the event and in
    the timed extraction."""
    from sed_binning_spark.io.hdf5_write import H5Writer

    w = H5Writer()
    w.add_dataset("/Stream_0", np.arange(10, dtype=np.float32))
    w.add_dataset("/Stream_1", np.arange(7, dtype=np.float32))
    w.add_dataset("/msMarkers", np.array([1, 5], dtype=np.int64))
    path = str(tmp_path / "Scan0005_0.h5")
    w.write(path)
    ev, timed, _ = MpesLoader(spark).read_dataframe(files=[path])
    for df in (ev, timed):
        with pytest.raises(Exception, match="truncated file"):
            df.count()
