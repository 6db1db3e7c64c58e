"""Loader utilities (reference: sed/loader/utils.py).

File discovery with natural sort and slicing (S2), the one-file-per-task
source of the raw-file extractors, and the bitwise channel split used to
demux sectorID from TOF steps (M8).
"""

from __future__ import annotations

import glob
import os
import re
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_NAT_SPLIT = re.compile(r"(\d+)")


def natural_sort_key(s: str):
    """natsort-style key: digit runs compare numerically."""
    return [int(tok) if tok.isdigit() else tok.lower() for tok in _NAT_SPLIT.split(s)]


def gather_files(
    folder: str,
    extension: str,
    f_start: int | None = None,
    f_end: int | None = None,
    f_step: int = 1,
    file_sorting: bool = True,
) -> list[str]:
    """Collect files by extension from a folder, naturally sorted, sliced by
    [f_start:f_end:f_step] (gather_files, sed/loader/utils.py:17-55).

    The slice applies only when BOTH f_start and f_end are given — exactly
    the reference's condition; a lone bound or step must not silently drop
    files.

    A nonexistent folder warns by name and yields [] (the reference wraps
    the glob in a FileNotFoundError handler that glob can never raise, so
    its empty result is indistinguishable from a typo'd path — here the
    warning says which it was before the generic 'no files found' error)."""
    if folder and not os.path.isdir(folder):
        import warnings

        warnings.warn(f"folder {folder!r} does not exist", stacklevel=2)
        return []
    files = glob.glob(os.path.join(folder, f"*.{extension.lstrip('.')}"))
    if file_sorting:
        files = sorted(files, key=natural_sort_key)
    if f_start is not None and f_end is not None:
        files = files[slice(f_start, f_end, f_step)]
    return files


def file_id_partitions(spark, n_files: int) -> DataFrame:
    """Source for per-file extraction: one ``file_id int`` row per
    partition, partition i holding exactly ``file_id == i``.

    ``spark.range`` with ``numPartitions == n_files`` slices the ids
    evenly, so every task reads exactly one file and no exchange runs.
    A repartitioned path table would add a shuffle stage to every
    extraction job, and its round-robin start offset skews the deal
    (measured: 5 files in tasks as [0,0,0,1,4]). Extractors look the path
    up by ``file_id`` in a list captured in their closure."""
    return spark.range(n_files, numPartitions=n_files).select(
        F.col("id").cast("int").alias("file_id"),
    )


def split_channel_bitwise(
    df: DataFrame,
    input_column: str,
    output_columns: Sequence[str],
    bit_mask: int,
    overwrite: bool = False,
    types: Sequence[str] | None = None,
) -> DataFrame:
    """Split a channel into low-bits and high-bits columns
    (split_channel_bitwise, sed/loader/utils.py:99-143):
    ``out[0] = col % 2^n`` (default int8/int16), ``out[1] = col // 2^n``
    (default int32). Pure integer expressions; NOT idempotent — guarded by
    the same column-exists checks as the reference."""
    if len(output_columns) != 2:
        raise ValueError("Exactly two output columns must be given.")
    if input_column not in df.columns:
        raise KeyError(f"Column {input_column} not in dataframe.")
    if output_columns[0] in df.columns and not overwrite:
        raise KeyError(f"Column {output_columns[0]} already in dataframe.")
    if output_columns[1] in df.columns and not overwrite:
        raise KeyError(f"Column {output_columns[1]} already in dataframe.")
    if not isinstance(bit_mask, (int, np.integer)) or isinstance(bit_mask, bool) or bit_mask < 0:
        raise ValueError("bit_mask must be a positive. integer")
    if types is None:
        # the low column holds values < 2^bit_mask: a signed smallint only
        # fits through bit_mask 15. The reference defaults int16 for every
        # mask >= 8 and numpy silently WRAPS beyond 15; under Spark's ANSI
        # mode the same cast would abort the job — widen the default
        # instead (deliberate deviation: silent wraparound is the one
        # reference behavior not worth reproducing)
        types = [
            "tinyint" if bit_mask < 8 else "smallint" if bit_mask < 16 else "int",
            "int",
        ]
    elif len(types) != 2:
        raise ValueError("Exactly two types must be given.")
    c = F.col(input_column).cast("bigint")
    # pmod matches Python's non-negative % (Spark's % keeps the dividend
    # sign); arithmetic shiftright IS floor division by 2^n for any sign.
    lo = F.pmod(c, F.lit(2**bit_mask)).cast(types[0])
    hi = F.shiftright(c, int(bit_mask)).cast(types[1])
    return df.withColumns({output_columns[0]: lo, output_columns[1]: hi})


def split_dld_time_from_sector_id(
    df: DataFrame,
    tof_column: str = "dldTimeSteps",
    sector_id_column: str = "dldSectorID",
    sector_id_reserved_bits: int = 3,
) -> DataFrame:
    """Demux the DLD sectorID from the low bits of the TOF-steps channel
    (split_dld_time_from_sector_id, sed/loader/utils.py:146-197): int8
    sectorID + int32 TOF. Errors if already split (not idempotent,
    utils.py:185-188)."""
    if sector_id_column in df.columns:
        raise ValueError(
            f"Column {sector_id_column} already in dataframe. This function is not idempotent.",
        )
    return split_channel_bitwise(
        df,
        input_column=tof_column,
        output_columns=[sector_id_column, tof_column],
        bit_mask=sector_id_reserved_bits,
        overwrite=True,
        types=["tinyint", "int"],
    )
