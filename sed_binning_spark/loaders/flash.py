"""flash/sxp-style loader assembly (reference: sed/loader/flash/loader.py,
sed/loader/sxp/loader.py).

The reference reads per-train HDF5 channels into pandas MultiIndex frames,
writes per-file "buffer" parquet files, then assembles electron and pulse
dataframes with forward fills (loader.py:226-464, 543-587, 643-837). Here
the assembly is Spark-first:

- channel frames are DataFrames keyed by plain (trainId[, pulseId[,
  electronId]]) columns — the MultiIndex flattens to columns exactly as
  the reference's own parquet buffers do (loader.py:633-637);
- J3 per-electron explode = ``posexplode`` + ``row_number`` over
  (trainId, pulseId) — the exact idiomatic replacement for the
  value_counts/explode dance (loader.py:226-284);
- J4 per-pulse explode = ``posexplode`` with pulseId = position
  (loader.py:286-308);
- J2 aux combine = one select projecting ``value[i] AS name``
  (loader.py:414-426);
- J1 multi-channel assembly = reduce full-outer equi-join
  (loader.py:543-587);
- S8 buffer cache = write-once parquet with schema validation
  (loader.py:643-742) — Spark jobs replace the joblib process pool.

The raw HDF5 → per-train DataFrame step runs on the engine's pure-Python
HDF5 reader; everything downstream is also testable on synthetic
per-train frames (FIXTURES.md F-3).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sed_binning_spark.loaders.base import BaseLoader
from sed_binning_spark.loaders.channels import (
    aligned_array_pdf,
    array_frame_schema,
    first_reading_train_pdf,
    read_channel,
    train_frame_schema,
)
from sed_binning_spark.loaders.utils import file_id_partitions

MULTI_INDEX = ("trainId", "pulseId", "electronId")


def electron_frames_distributed(
    spark,
    paths: Sequence[str],
    channels: dict[str, dict],
) -> DataFrame:
    """Per-electron channel extraction with exactly one file per
    mapInPandas task (:func:`file_id_partitions`, no shuffle):
    executors read the bulky hit arrays straight from the raw bytes with
    the built-in HDF5 reader; the driver never materializes event data.
    Shared by the flash and sxp loaders (their channel specs differ only in
    group_name/slice vs dataset_key/index_key addressing)."""
    channels = {k: dict(v) for k, v in channels.items() if v["format"] == "per_electron"}
    if not channels:
        raise ValueError("no per_electron channels configured")
    names = list(channels)
    paths = list(paths)

    def _extract(batches):
        from sed_binning_spark.io.hdf5_read import H5File
        from sed_binning_spark.loaders.channels import aligned_array_pdf, read_channel

        for pdf in batches:
            for fid in pdf["file_id"]:
                path = paths[fid]
                f = H5File(path)
                chans = {n: read_channel(f, n, channels[n]) for n in names}
                yield aligned_array_pdf(chans, "per-electron", context=path)

    return file_id_partitions(spark, len(paths)).mapInPandas(
        _extract, array_frame_schema(names),
    )


def explode_per_electron(
    df_train: DataFrame,
    pulse_array_column: str,
    value_array_columns: Sequence[str],
    train_id_column: str = "trainId",
    ubid_offset: int = 0,
) -> DataFrame:
    """J3: per-train hit arrays → one row per electron
    (create_multi_index_per_electron, flash/loader.py:226-284).

    ``pulse_array_column`` holds, per train, the pulseId of every detected
    electron (aligned with each value array). The electronId is the running
    count within (trainId, pulseId) in array order:
    ``row_number() over (partition by train, pulse order by pos) - 1``.
    NaN/NULL pulse entries are dropped (loader.py:260-261) — FLASH pulse
    arrays are NaN-padded, so NaN is mapped to NULL BEFORE the bigint cast
    (an ANSI-mode cast of NaN would throw; non-ANSI would silently mint a
    spurious pulseId 0).
    """
    zipped = F.arrays_zip(
        F.col(pulse_array_column).alias("__pulse"),
        *[F.col(c).alias(c) for c in value_array_columns],
    )
    pulse_raw = F.col("__hit.__pulse")
    pulse_clean = F.when(~F.isnan(pulse_raw.cast("double")), pulse_raw)
    out = df_train.select(
        F.col(train_id_column),
        F.posexplode(zipped).alias("__pos", "__hit"),
    ).select(
        train_id_column,
        (pulse_clean - F.lit(ubid_offset)).cast("bigint").alias("pulseId"),
        F.col("__pos").alias("__pos"),
        *[F.col(f"__hit.{c}").alias(c) for c in value_array_columns],
    ).where(F.col("pulseId").isNotNull())
    w = Window.partitionBy(train_id_column, "pulseId").orderBy("__pos")
    return out.withColumn(
        "electronId", (F.row_number().over(w) - 1).cast("bigint"),
    ).drop("__pos")


def explode_per_pulse(
    df_train: DataFrame,
    value_array_columns: Sequence[str],
    train_id_column: str = "trainId",
) -> DataFrame:
    """J4: per-train pulse vectors → one row per (trainId, pulseId) with
    pulseId = array position (create_multi_index_per_pulse,
    flash/loader.py:286-308, from_product semantics)."""
    zipped = F.arrays_zip(*[F.col(c).alias(c) for c in value_array_columns])
    return df_train.select(
        F.col(train_id_column),
        F.posexplode(zipped).alias("pulseId", "__v"),
    ).select(
        train_id_column,
        F.col("pulseId").cast("bigint"),
        *[F.col(f"__v.{c}").alias(c) for c in value_array_columns],
    )


def combine_aux_channels(
    df_train: DataFrame,
    aux_array_column: str,
    aux_channels: dict[str, int],
    train_id_column: str = "trainId",
) -> DataFrame:
    """J2: slices of one per-train vector → named scalar columns
    (flash/loader.py:414-426). One projection replaces the reference's
    reduce(combine_first) chain."""
    # try_element_at: an aux vector shorter than the configured slice index
    # (a facility config naming more slices than this run recorded) yields
    # NULL for the missing reading — element_at under ANSI mode would abort
    # the whole job with an opaque INVALID_ARRAY_INDEX
    return df_train.select(
        train_id_column,
        *[
            F.try_element_at(F.col(aux_array_column), F.lit(idx + 1)).alias(name)
            for name, idx in aux_channels.items()
        ],
    )


def concatenate_channels(
    frames: Sequence[DataFrame],
    keys: Sequence[str] = ("trainId", "pulseId", "electronId"),
) -> DataFrame:
    """J1: reduce full-outer equi-join of channel frames on the shared
    index columns (flash/loader.py:543-587). Frames missing some key
    columns join on the keys they have (per-train frames join on trainId
    only — their values repeat per pulse/electron, which is exactly the
    reference's aligned-index broadcast)."""
    if not frames:
        raise ValueError("no channel frames to concatenate")

    def _join(left: DataFrame, right: DataFrame) -> DataFrame:
        on = [k for k in keys if k in left.columns and k in right.columns]
        if not on:
            raise ValueError("channel frames share no index columns")
        return left.join(right, on=on, how="full_outer")

    # join electron-level frames first so coarser frames broadcast onto the
    # finest index (same result as the reference's ordered reduce)
    frames = sorted(
        frames, key=lambda f: -sum(k in f.columns for k in keys),
    )
    return reduce(_join, frames)


def split_electron_pulse_frames(
    df: DataFrame,
    per_electron_columns: Sequence[str],
    electron_id_column: str = "electronId",
) -> tuple[DataFrame, DataFrame]:
    """P5/P6: electron frame = rows with per-electron values
    (dropna(per_electron), flash/loader.py:822-824); pulse frame = the
    per-pulse/train channels at electronId 0 or NaN/NULL
    (loader.py:825-830)."""
    electron = df.na.drop(subset=list(per_electron_columns))
    pulse_cols = [c for c in df.columns if c not in per_electron_columns]
    eid = F.col(electron_id_column)
    pulse = df.select(*pulse_cols).where(
        (eid == 0) | eid.isNull() | F.isnan(eid.cast("double")),
    )
    return electron, pulse


def buffer_parquet(
    df_builder,
    path: str | Path,
    spark,
    force_recreate: bool = False,
    expected_columns: Sequence[str] | None = None,
) -> DataFrame:
    """S8: write-once parquet buffer (buffer_file_handler,
    flash/loader.py:643-742). ``df_builder`` is a zero-arg callable
    producing the DataFrame (only invoked on a cache miss — the expensive
    HDF5 conversion is skipped when the buffer exists). Pass
    ``expected_columns`` to schema-check a reused buffer via
    :func:`validate_buffer_schema` (a stale buffer from an older channel
    config then fails with recreate guidance instead of being served);
    the loader's own cache (`_train_frames_buffered`) achieves the same
    with a config-fingerprint marker instead."""
    path = Path(path)
    if force_recreate or not path.exists():
        df = df_builder()
        df.write.mode("overwrite").parquet(str(path))
    out = spark.read.parquet(str(path))
    if expected_columns is not None:
        validate_buffer_schema(out, expected_columns)
    return out


def validate_buffer_schema(
    df: DataFrame,
    expected_columns: Sequence[str],
    allow_extra: Sequence[str] = ("timeStamp",),
) -> None:
    """Schema-mismatch guard (flash/loader.py:680-706): the buffer must
    contain exactly the configured channel set (modulo the tolerated
    extras); on mismatch the reference instructs a forced recreate."""
    have = set(df.columns)
    want = set(expected_columns)
    extra = have - want - set(allow_extra)
    missing = want - have
    if extra or missing:
        raise ValueError(
            f"The available channels do not match the schema of file buffer: "
            f"missing={sorted(missing)} extra={sorted(extra)}. "
            "Use force_recreate=True to rebuild the buffer.",
        )


def forward_fill_pulse_channels(
    df: DataFrame,
    columns: Sequence[str],
    file_column: str = "file_id",
    row_column: str = "row_id",
) -> DataFrame:
    """W1 applied to the assembled frame (flash/loader.py:814-820): sparse
    per-train/pulse channels carried onto every electron row."""
    from sed_binning_spark.core.dfops import forward_fill

    return forward_fill(df, columns, file_column=file_column, row_column=row_column)


def get_files_from_run_id(
    run_id: str | int,
    folders: str | Sequence[str],
    extension: str = "h5",
    stream_name_prefixes: dict[str, str] | None = None,
    daq: str = "fl1user3",
) -> list[str]:
    """S3 (flash form): run identifier → file list via the facility's
    ``{stream_prefix}_run{run_id}_*.{ext}`` naming, sorted naturally by the
    trailing chunk index (flash/loader.py:114-169)."""
    from sed_binning_spark.loaders.utils import natural_sort_key

    if stream_name_prefixes is None:
        stream_name_prefixes = {"fl1user3": "FLASH1_USER3_stream_2"}
    if isinstance(folders, str):
        folders = [folders]
    pattern = f"{stream_name_prefixes[daq]}_run{run_id}_*.{extension}"
    files: list[Path] = []
    for folder in folders:
        files.extend(
            sorted(
                Path(folder).glob(pattern),
                key=lambda p: natural_sort_key(str(p).rsplit("_", maxsplit=1)[-1]),
            ),
        )
    if not files:
        raise FileNotFoundError(
            f"No files found for run {run_id} in directory {list(folders)}",
        )
    return [str(f.resolve()) for f in files]


class FlashLoader(BaseLoader):
    """S6: flash/sxp-style loader orchestration.

    ``read_dataframe`` assembles (electron_df, pulse_df, metadata) from
    per-train channel frames. The HDF5 → per-train frame conversion
    runs on the engine's pure-Python HDF5 reader
    (:meth:`h5_to_train_frames`); tests and environments without
    instrument files can still inject frames directly via ``train_frames``.
    """

    name = "flash"
    supported_file_types = ("h5",)

    def get_files_from_run_id(self, run_id, folders, extension="h5", **kwds):
        conf = self.config.get("dataframe", {})
        return get_files_from_run_id(
            run_id, folders, extension,
            stream_name_prefixes=conf.get("stream_name_prefixes"),
            daq=kwds.pop("daq", conf.get("daq", "fl1user3")),
        )

    # HEXTOF channel layout of the FLASH1_USER3 stream files (matches the
    # reference's flash test config channel specs: format/group_name/slice;
    # tests/data/loader/flash/config.yaml:80-127). dataframe.channels in
    # config overrides with the same shape.
    DEFAULT_CHANNELS = {
        "pulseId": {"format": "per_electron",
                    "group_name": "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/", "slice": 2},
        "dldPosX": {"format": "per_electron",
                    "group_name": "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/", "slice": 1},
        "dldPosY": {"format": "per_electron",
                    "group_name": "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/", "slice": 0},
        "dldTimeSteps": {"format": "per_electron",
                         "group_name": "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/", "slice": 3},
        "dldAux": {"format": "per_pulse",
                   "group_name": "/uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/", "slice": 4,
                   # default slice names = the reference example config's
                   # dldAuxChannels (flash_example_config.yaml:133-140);
                   # without them the extracted aux vector would be
                   # silently discarded by combine_aux_channels
                   "dldAuxChannels": {
                       "sampleBias": 0, "tofVoltage": 1, "extractorVoltage": 2,
                       "extractorCurrent": 3, "cryoTemperature": 4,
                       "sampleTemperature": 5, "dldTimeBinSize": 15,
                   }},
        "timeStamp": {"format": "per_train",
                      "group_name": "/uncategorised/FLASH.DIAG/TIMINGINFO/"
                                    "TIME1.BUNCH_FIRST_INDEX.1/"},
    }

    def _electron_frames_distributed(self, paths: list[str]) -> DataFrame:
        channels = self.config.get("dataframe", {}).get("channels", self.DEFAULT_CHANNELS)
        return electron_frames_distributed(self.spark, paths, channels)

    def _train_frames_buffered(
        self,
        path: str,
        parquet_dir: str,
        force_recreate: bool = False,
    ) -> dict[str, DataFrame]:
        """Per-file parquet buffer cache around :meth:`h5_to_train_frames`:
        one ``{stem}.{tag}.{key}.buffer.parquet`` per frame kind; on reuse
        the set of buffer files defines which frame kinds exist, so the raw
        HDF5 is never re-opened. The cache key carries a short digest of
        the ABSOLUTE source path, not just the basename: two equally-named
        files from different raw-data folders must not race each other's
        overwrite or serve each other's events."""
        import hashlib

        stem = Path(path).stem
        tag = hashlib.md5(str(Path(path).resolve()).encode()).hexdigest()[:8]
        out_dir = Path(parquet_dir)
        out_dir.mkdir(parents=True, exist_ok=True)
        buffer_paths = {
            key: out_dir / f"{stem}.{tag}.{key}.buffer.parquet"
            for key in ("electron", "pulse", "aux", "train")
        }
        # completeness marker: written LAST and recording the CHANNEL-CONFIG
        # fingerprint plus WHICH frame kinds the conversion produced, so
        # (a) a conversion that dies mid-way is redone rather than served
        # partially, (b) buffers built under a DIFFERENT channel config are
        # re-extracted instead of silently served without the new columns,
        # and (c) a marker whose buffers were deleted falls back to
        # re-extraction instead of KeyErrors
        done_marker = out_dir / f"{stem}.{tag}.buffers.complete"
        fingerprint = self._channel_config_fingerprint()
        if done_marker.exists() and not force_recreate:
            lines = done_marker.read_text().splitlines()
            marker_fp = lines[0].strip() if lines else ""
            kinds = lines[1].split() if len(lines) > 1 else []
            if (
                marker_fp == fingerprint
                and kinds
                and all(buffer_paths[k].exists() for k in kinds)
            ):
                return {
                    k: self.spark.read.parquet(str(buffer_paths[k])) for k in kinds
                }
        extracted = self.h5_to_train_frames(path)
        frames: dict[str, DataFrame] = {}
        for key, frame in extracted.items():
            bpath = buffer_paths[key]
            frame.write.mode("overwrite").parquet(str(bpath))
            frames[key] = self.spark.read.parquet(str(bpath))
        done_marker.write_text(fingerprint + "\n" + " ".join(sorted(frames)))
        return frames

    def _channel_config_fingerprint(self) -> str:
        """Stable digest of the channel spec that shaped the buffers."""
        import hashlib
        import json

        channels = self.config.get("dataframe", {}).get("channels", self.DEFAULT_CHANNELS)
        blob = json.dumps(channels, sort_keys=True, default=str)
        return hashlib.md5(blob.encode()).hexdigest()

    def h5_to_train_frames(
        self,
        path: str,
        formats: Sequence[str] | None = None,
    ) -> dict[str, DataFrame]:
        """One raw stream file -> {"electron": ..., "pulse": ..., "aux": ...,
        "train": ...} per-train frames via the engine's pure-Python HDF5
        reader (the structures the reference reads through h5py,
        sed/loader/flash/loader.py:617-742). Channel specs come from
        ``config["dataframe"]["channels"]`` (reference config shape) with
        the HEXTOF fixture layout as default. ``formats`` restricts which
        channel formats are extracted (the distributed read pulls
        per_electron data executor-side and the small per-pulse/train
        frames driver-side)."""
        import pandas as pd

        from sed_binning_spark.io.hdf5_read import H5File

        f = H5File(path)
        channels = self.config.get("dataframe", {}).get("channels", self.DEFAULT_CHANNELS)
        if formats is not None:
            channels = {k: v for k, v in channels.items() if v["format"] in formats}

        electron: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        pulse: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        train: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for name, ch in channels.items():
            idx, val = read_channel(f, name, ch)
            fmt = ch["format"]
            if fmt == "per_electron":
                electron[name] = (idx, val)
            elif fmt == "per_pulse":
                pulse[name] = (idx, val.reshape(val.shape[0], -1))
            elif fmt == "per_train":
                train[name] = (idx, val.reshape(val.shape[0], -1)[:, 0])
            else:
                raise ValueError(f"unknown channel format {fmt!r}")

        frames: dict[str, DataFrame] = {}
        if electron:
            frames["electron"] = self.spark.createDataFrame(
                aligned_array_pdf(electron, "per-electron", context=path),
                schema=array_frame_schema(electron),
            )
        aux = pulse.pop("dldAux", None)
        if aux is not None:
            idx, val = aux
            pdf = pd.DataFrame({"trainId": idx})
            pdf["dldAux"] = list(val)
            # repeated readbacks keep the first, like every train-indexed
            # frame — a duplicate here would multiply joined event rows
            pdf = pdf[~pdf["trainId"].duplicated(keep="first")]
            frames["aux"] = self.spark.createDataFrame(
                pdf, schema="trainId long, dldAux array<double>",
            )
        if pulse:
            frames["pulse"] = self.spark.createDataFrame(
                aligned_array_pdf(pulse, "per-pulse", context=path),
                schema=array_frame_schema(pulse),
            )
        if train:
            merged = first_reading_train_pdf(train)
            frames["train"] = self.spark.createDataFrame(
                merged, schema=train_frame_schema(merged.columns),
            )
        return frames

    def read_dataframe(
        self,
        files=None,
        folders=None,
        runs=None,
        ftype: str = "h5",
        metadata: dict | None = None,
        collect_metadata: bool = False,
        train_frames: dict[str, DataFrame] | None = None,
        per_electron_columns: Sequence[str] = ("dldPosX", "dldPosY", "dldTimeSteps"),
        pulse_array_column: str = "pulseId",
        ubid_offset: int | None = None,
        sector_id_reserved_bits: int | None = None,
        forward_fill_columns: Sequence[str] | None = None,
        trains_per_chunk: int = 256,
        **kwds,
    ) -> tuple[DataFrame, DataFrame, dict]:
        """Assemble electron + pulse dataframes (flash/loader.py:744-837).

        Read modes follow the uniform contract (files/folders/runs resolve
        instrument HDF5 paths; the byte-read then goes through
        :meth:`h5_to_train_frames`, per-file frame dicts unioned per key).
        Alternatively inject the extracted frames via ``train_frames``:
        {"electron": per-train df with hit arrays, "pulse": per-train df
        with per-pulse arrays (optional), "aux": per-train df with the
        dldAux vector (optional), "train": per-train scalars (optional)}.
        """
        if train_frames is not None:
            # injected-data path never goes through resolve_paths, which is
            # what resets + records caller metadata on the file-read path
            self.metadata = dict(metadata or {})
        else:
            if files is None and folders is None and runs is None:
                raise ValueError(
                    "provide files/folders/runs or inject train_frames "
                    "(see h5_to_train_frames)",
                )
            force_recreate = bool(kwds.pop("force_recreate", False))
            paths = self.resolve_paths(
                files=files, folders=folders, runs=runs, ftype=ftype,
                metadata=metadata, **kwds,
            )
            # S8 buffer cache: with core.paths.data_parquet_dir configured,
            # each raw file converts to parquet buffers exactly once
            # (buffer_file_handler, flash/loader.py:643-742); later sessions
            # read the buffers and never touch the HDF5 again.
            parquet_dir = (
                self.config.get("core", {}).get("paths", {}).get("data_parquet_dir")
            )
            # per-file conversions are independent; a small thread pool
            # overlaps their driver-side HDF5 decode and lets concurrent
            # Spark jobs (createDataFrame + parquet writes) pipeline through
            # the scheduler instead of running strictly one file at a time
            from concurrent.futures import ThreadPoolExecutor

            n_workers = min(4, max(1, len(paths)))
            from sed_binning_spark.loaders.channels import union_frame_maps

            if parquet_dir:
                with ThreadPoolExecutor(n_workers) as ex:
                    per_file = list(ex.map(
                        lambda p: self._train_frames_buffered(
                            p, parquet_dir, force_recreate,
                        ),
                        paths,
                    ))
                train_frames = union_frame_maps(per_file)
            else:
                # scale path: bulky per-electron hit arrays extract
                # executor-side (one task per file); the small per-pulse /
                # per-train frames read driver-side off header+small pages
                with ThreadPoolExecutor(n_workers) as ex:
                    per_file = list(ex.map(
                        lambda p: self.h5_to_train_frames(
                            p, formats=("per_pulse", "per_train"),
                        ),
                        paths,
                    ))
                train_frames = union_frame_maps(
                    per_file,
                    into={"electron": self._electron_frames_distributed(paths)},
                )
        conf = self.config.get("dataframe", {})
        if ubid_offset is None:
            ubid_offset = conf.get("ubid_offset", 0)
        if forward_fill_columns is None:
            forward_fill_columns = conf.get("forward_fill_columns")

        frames: list[DataFrame] = []
        electron_src = train_frames["electron"]
        value_cols = [
            c for c in electron_src.columns
            if c not in ("trainId", pulse_array_column)
        ]
        frames.append(
            explode_per_electron(
                electron_src, pulse_array_column, value_cols, ubid_offset=ubid_offset,
            ),
        )
        if "pulse" in train_frames:
            pulse_src = train_frames["pulse"]
            frames.append(explode_per_pulse(
                pulse_src, [c for c in pulse_src.columns if c != "trainId"],
            ))
        if "aux" in train_frames:
            # aux slice names: explicit dataframe.aux_channels, or the
            # dldAuxChannels spec of the channels ACTUALLY in use (config
            # channels or the built-in defaults — consulting only the
            # config would silently discard the extracted aux vector on a
            # default-config run)
            active_channels = conf.get("channels", self.DEFAULT_CHANNELS)
            aux_channels = conf.get("aux_channels") or (
                active_channels.get("dldAux", {}).get("dldAuxChannels", {})
            )
            if not aux_channels:
                raise ValueError(
                    "dldAux was extracted but no aux slice names are "
                    "configured (dataframe.aux_channels or "
                    "channels.dldAux.dldAuxChannels) — the aux data would "
                    "be silently discarded",
                )
            frames.append(combine_aux_channels(
                train_frames["aux"], "dldAux", aux_channels,
            ))
        if "train" in train_frames:
            frames.append(train_frames["train"])

        combined = concatenate_channels(frames)

        # Stable order for fills: trainId/pulseId/electronId are the physical
        # order of the instrument stream. file_id = train-range chunk (the
        # stand-in for the per-source-file ranges a real converter mints —
        # monotone in trainId, so the fills' cross-chunk boundary handoff
        # walks chunks in stream order); row_id = row_number within the
        # chunk. The window is PARTITIONED by chunk — every chunk sorts in
        # parallel, no global single-task orderBy (the round-2 scale-killer).
        if "pulseId" in combined.columns and "file_id" not in combined.columns:
            chunk = F.floor(F.col("trainId") / F.lit(int(trains_per_chunk)))
            w = Window.partitionBy("file_id").orderBy(
                F.col("trainId"),
                F.coalesce(F.col("pulseId"), F.lit(-1)),
                F.coalesce(F.col("electronId"), F.lit(-1)),
            )
            combined = combined.withColumn("file_id", chunk.cast("int")).withColumn(
                "row_id", (F.row_number().over(w) - 1).cast("bigint"),
            )

        if sector_id_reserved_bits:
            from sed_binning_spark.loaders.utils import split_dld_time_from_sector_id

            combined = split_dld_time_from_sector_id(
                combined, sector_id_reserved_bits=sector_id_reserved_bits,
            )
            per_electron_columns = list(per_electron_columns) + ["dldSectorID"]

        if forward_fill_columns:
            combined = forward_fill_pulse_channels(combined, forward_fill_columns)

        electron, pulse = split_electron_pulse_frames(
            combined,
            [c for c in per_electron_columns if c in combined.columns],
        )
        self.metadata.update(
            {"ubid_offset": ubid_offset, "per_electron": list(per_electron_columns)},
        )
        return electron, pulse, self.metadata
