"""flash/sxp assembly tests on the F-3 synthetic fixture (FIXTURES.md):
per-train hit arrays → electron rows with synthesized electronId, pulse
frames, aux combine, channel concatenation, buffer cache."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_binning_spark.loaders.flash import (
    FlashLoader,
    buffer_parquet,
    combine_aux_channels,
    concatenate_channels,
    explode_per_electron,
    explode_per_pulse,
    split_electron_pulse_frames,
    validate_buffer_schema,
)


@pytest.fixture(scope="module")
def train_frames(spark):
    """F-3: 20 trains, ~4 pulses/train, k~Poisson(2) electrons per pulse;
    hit arrays carry (pulseId+offset, posX, posY, tof); a per-train aux
    vector and per-pulse gmd array."""
    rng = np.random.default_rng(42)
    ubid = 5
    rows_e, rows_p, rows_a = [], [], []
    for train in range(1000, 1020):
        pulses, xs, ys, tofs = [], [], [], []
        for pulse in range(4):
            for _ in range(rng.poisson(2)):
                pulses.append(pulse + ubid)
                xs.append(float(rng.uniform(0, 2048)))
                ys.append(float(rng.uniform(0, 2048)))
                tofs.append(int(rng.integers(60000 * 8, 120000 * 8)))
        rows_e.append((train, pulses, xs, ys, tofs))
        rows_p.append((train, [float(rng.uniform(1e-3, 5e-3)) for _ in range(4)]))
        rows_a.append((train, [float(rng.uniform(10, 20)), float(rng.uniform(-5, 5)), 0.0]))
    e = spark.createDataFrame(
        rows_e,
        "trainId long, pulseId array<int>, dldPosX array<double>, "
        "dldPosY array<double>, dldTimeSteps array<long>",
    )
    p = spark.createDataFrame(rows_p, "trainId long, gmdTunnel array<double>")
    a = spark.createDataFrame(rows_a, "trainId long, dldAux array<double>")
    return {"electron": e, "pulse": p, "aux": a}


def test_explode_per_electron_ids(train_frames):
    """electronId = running count within (trainId, pulseId), in hit order;
    pulseId = raw - ubid_offset (flash/loader.py:226-284)."""
    out = explode_per_electron(
        train_frames["electron"], "pulseId",
        ["dldPosX", "dldPosY", "dldTimeSteps"], ubid_offset=5,
    ).toPandas()
    assert out.pulseId.between(0, 3).all()
    counts = out.groupby(["trainId", "pulseId"]).electronId.agg(["min", "max", "count"])
    assert (counts["min"] == 0).all()
    assert (counts["max"] == counts["count"] - 1).all()
    # hit order preserved: electron 0 of (train, pulse) carries the first
    # array entry for that pulse
    src = train_frames["electron"].toPandas().set_index("trainId")
    t0 = src.index[0]
    raw = src.loc[t0]
    first_pulse = raw.pulseId[0] - 5
    e0 = out[(out.trainId == t0) & (out.pulseId == first_pulse) & (out.electronId == 0)]
    assert e0.dldPosX.iloc[0] == raw.dldPosX[0]


def test_explode_per_pulse(train_frames):
    out = explode_per_pulse(train_frames["pulse"], ["gmdTunnel"]).toPandas()
    assert len(out) == 20 * 4
    assert set(out.pulseId) == {0, 1, 2, 3}


def test_combine_aux(train_frames):
    out = combine_aux_channels(
        train_frames["aux"], "dldAux", {"sampleBias": 0, "tofVoltage": 1},
    ).toPandas()
    src = train_frames["aux"].toPandas()
    assert list(out.columns) == ["trainId", "sampleBias", "tofVoltage"]
    np.testing.assert_allclose(
        out.sort_values("trainId").sampleBias.to_numpy(),
        [v[0] for v in src.sort_values("trainId").dldAux],
    )


def test_concatenate_channels_outer_join(train_frames):
    e = explode_per_electron(
        train_frames["electron"], "pulseId",
        ["dldPosX", "dldPosY", "dldTimeSteps"], ubid_offset=5,
    )
    p = explode_per_pulse(train_frames["pulse"], ["gmdTunnel"])
    a = combine_aux_channels(train_frames["aux"], "dldAux", {"sampleBias": 0})
    combined = concatenate_channels([e, p, a])
    # every electron row got its pulse + train values
    got = combined.where(F.col("electronId").isNotNull())
    assert got.where(F.col("gmdTunnel").isNull()).count() == 0
    assert got.where(F.col("sampleBias").isNull()).count() == 0
    # pulses with zero electrons survive as electronId-NULL rows (outer join)
    n_pulses_with_e = e.select("trainId", "pulseId").distinct().count()
    assert combined.where(F.col("electronId").isNull()).count() == 20 * 4 - n_pulses_with_e


def test_split_electron_pulse_frames(train_frames):
    e = explode_per_electron(
        train_frames["electron"], "pulseId",
        ["dldPosX", "dldPosY", "dldTimeSteps"], ubid_offset=5,
    )
    p = explode_per_pulse(train_frames["pulse"], ["gmdTunnel"])
    combined = concatenate_channels([e, p])
    electron, pulse = split_electron_pulse_frames(
        combined, ["dldPosX", "dldPosY", "dldTimeSteps"],
    )
    assert electron.count() == e.count()
    assert electron.na.drop(subset=["dldPosX"]).count() == electron.count()
    # pulse frame: one row per pulse (electronId 0 or NULL), no electron cols
    assert "dldPosX" not in pulse.columns
    assert pulse.count() == 20 * 4


def test_flash_loader_end_to_end(spark, train_frames):
    loader = FlashLoader(spark, config={"dataframe": {
        "ubid_offset": 5,
        "aux_channels": {"sampleBias": 0, "tofVoltage": 1},
    }})
    electron, pulse, meta = loader.read_dataframe(
        train_frames=train_frames,
        sector_id_reserved_bits=3,
    )
    epdf = electron.toPandas()
    assert {"dldSectorID", "dldTimeSteps", "gmdTunnel", "sampleBias"} <= set(epdf.columns)
    assert epdf.dldSectorID.between(0, 7).all()
    assert dict(electron.dtypes)["dldSectorID"] == "tinyint"
    assert meta["ubid_offset"] == 5
    assert pulse.count() == 20 * 4


def test_buffer_parquet_cache(spark, tmp_path, train_frames):
    calls = []

    def build():
        calls.append(1)
        return explode_per_pulse(train_frames["pulse"], ["gmdTunnel"])

    path = tmp_path / "buffer.parquet"
    df1 = buffer_parquet(build, path, spark)
    df2 = buffer_parquet(build, path, spark)  # cache hit: builder not called
    assert len(calls) == 1
    assert df1.count() == df2.count() == 80
    validate_buffer_schema(df2, ["trainId", "pulseId", "gmdTunnel"])
    with pytest.raises(ValueError, match="schema of file buffer"):
        validate_buffer_schema(df2, ["trainId", "pulseId", "missing_chan"])
    df3 = buffer_parquet(build, path, spark, force_recreate=True)
    assert len(calls) == 2 and df3.count() == 80


def test_explode_per_electron_nan_padded(spark):
    """FLASH pulse arrays are NaN-padded: NaN entries must be dropped (as
    the reference's explode().dropna()) — not crash under ANSI mode, not
    mint spurious pulseId-0 electrons under non-ANSI."""
    rows = [
        (1, [5.0, 5.0, 6.0, float("nan"), float("nan")],
         [1.0, 2.0, 3.0, 4.0, 5.0]),
        (2, [float("nan")] * 3, [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "trainId long, pulseId array<double>, x array<double>")
    # conf.get WITHOUT a fallback returns the EFFECTIVE default ('true' on
    # Spark 4) — a hardcoded 'false' fallback would restore the session to
    # non-ANSI for every later test
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        out = explode_per_electron(df, "pulseId", ["x"], ubid_offset=5).toPandas()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(out) == 3  # the 5 NaN hits are gone
    assert set(out.trainId) == {1}
    got = out.sort_values(["pulseId", "electronId"])
    assert list(got.pulseId) == [0, 0, 1]
    assert list(got.electronId) == [0, 1, 0]
    assert list(got.x) == [1.0, 2.0, 3.0]


def test_read_dataframe_chunked_row_ids(spark, train_frames):
    """file_id = train-range chunk (partitioned window — no global sort);
    row_id restarts per chunk and orders by (train, pulse, electron)."""
    loader = FlashLoader(spark, config={"dataframe": {"ubid_offset": 5}})
    electron, pulse, _ = loader.read_dataframe(
        train_frames={"electron": train_frames["electron"]},
        trains_per_chunk=8,
    )
    pdf = electron.toPandas()
    assert set(pdf.file_id) == {1000 // 8, 1008 // 8, 1016 // 8}
    for _, grp in pdf.groupby("file_id"):
        g = grp.sort_values("row_id")
        keys = list(zip(g.trainId, g.pulseId, g.electronId))
        assert keys == sorted(keys)
        assert list(g.row_id) == sorted(g.row_id) and g.row_id.iloc[0] == 0


def test_electron_frames_distributed_reads_each_file_in_its_own_task(spark, tmp_path):
    """The per-electron extraction shared by flash and sxp reads raw files
    executor-side, exactly one file per partition, in file order."""
    from sed_binning_spark.io.hdf5_write import H5Writer
    from sed_binning_spark.loaders.flash import electron_frames_distributed

    paths = []
    for i in range(5):
        w = H5Writer()
        w.add_dataset("/idx", np.array([10 * i, 10 * i + 1], dtype="<i8"))
        w.add_dataset("/hits", np.arange(8, dtype="<f8").reshape(2, 4) + i)
        paths.append(str(tmp_path / f"run_{i}.h5"))
        w.write(paths[-1])
    frame = electron_frames_distributed(spark, paths, {
        "dldPosX": {"format": "per_electron", "index_key": "/idx", "dataset_key": "/hits"},
    })
    parts = frame.rdd.glom().collect()
    assert [[r.trainId for r in p] for p in parts] == [
        [10 * i, 10 * i + 1] for i in range(5)
    ]
    assert list(parts[3][1].dldPosX) == [7.0, 8.0, 9.0, 10.0]
