"""The benchmark's three workloads.

Each workload synthesizes its inputs from the seed (untimed), prepares the
engine-side state a user pays for once per session (timed as set-up), then
runs one timed iteration at a time through the engine's public entry
points only. Every output of an iteration is checked against a value the
benchmark computes independently of the engine call that produced it.

Every call into an engine layer sits inside ``tr.span(name, layer)``; the
untraced run passes a tracer that records nothing, so both runs execute
the same code.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import numpy as np

from sed_binning_spark.binning import binning as binning_mod
from sed_binning_spark.binning.binning import (
    bin_dataframe,
    normalization_histogram_from_timed_dataframe,
)
from sed_binning_spark.binning.utils import bin_centers_to_bin_edges
from sed_binning_spark.io import save
from sed_binning_spark.io.hdf5_read import H5File
from sed_binning_spark.io.hdf5_write import H5Writer
from sed_binning_spark.io.tiff import load_tiff

# the reference benchmark generator's value ranges (bin-center ranges)
X_RANGE = (0.0, 2048.0)
Y_RANGE = (0.0, 2048.0)
T_RANGE = (60000.0, 120000.0)
ADC_RANGE = (2000.0, 20000.0)

# calibration literals of the reference-style workflow chain
K_CALIB = {
    "rstart": 0.0, "cstart": 0.0, "x_center": 1024.0, "y_center": 1024.0,
    "kx_scale": 0.0102, "ky_scale": 0.0097, "rstep": 1.0, "cstep": 1.0,
}
E_CORRECTION = {"correction_type": "spherical", "center": (1024.0, 1024.0),
                "amplitude": 2.5, "diameter": 3000.0}
E_FIT = {"d": 1.0, "t0": 1e-7, "E0": 20.0, "binwidth": 4.125e-12,
         "binning": 1, "energy_scale": "kinetic", "calib_type": "fit"}
DELAY_CALIB = {"adc_range": (2000.0, 20000.0), "delay_range": (-5.0, 5.0)}

# the phases bin_dataframe records in binning.LAST_RUN_INFO on each physical
# route; a call reports the phases of the route it takes at these sizes
SHUFFLE = ("route_s", "agg_collect_s")
DRIVER_SMALL = ("route_s", "small_collect_s", "scatter_s")
DRIVER_SPILL = ("route_s", "spill_write_s", "spill_collect_s", "bincount_s")


def edges_of(lo: float, hi: float, n: int) -> np.ndarray:
    """Bin edges of an int-bins + range spec, where the range names the
    first and last bin centers."""
    return bin_centers_to_bin_edges(np.linspace(lo, hi, n, endpoint=False))


def in_range_mask(columns, specs) -> np.ndarray:
    """Rows whose every value lies inside its spec's outer edges."""
    mask = np.ones(len(columns[0]), dtype=bool)
    for col, (lo, hi, n) in zip(columns, specs):
        e = edges_of(lo, hi, n)
        mask &= (col >= e[0]) & (col <= e[-1])
    return mask


def in_range_counts(df, specs: dict[str, dict]) -> dict[str, int]:
    """Per named spec, the rows inside every axis' outer edges, as one Spark
    filter-count aggregation: a plain predicate, independent of the binning
    code path."""
    from pyspark.sql import functions as F

    sums = []
    for name, spec in specs.items():
        cond = F.lit(True)
        for col, (lo, hi, n) in spec.items():
            e = edges_of(lo, hi, n)
            cond = cond & (F.col(col) >= float(e[0])) & (F.col(col) <= float(e[-1]))
        sums.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
    row = df.agg(*sums).collect()[0]
    return {name: int(row[name]) for name in specs}


def note_binning(tr, name: str, rows: int, cube) -> None:
    """Record the engine's own phase breakdown of the bin_dataframe call
    that just returned, plus its occupancy (non-zero cells / input rows)."""
    if tr.enabled:
        tr.note(name, {**binning_mod.LAST_RUN_INFO,
                       "occupancy": np.count_nonzero(cube.data) / rows})


def cube_matches_file(cube, path: str, dataset: str) -> bool:
    return bool(np.array_equal(H5File(path).read(dataset), cube.data))


class Workload:
    """Interface the runner drives. Outcomes are dicts with ``items``
    (engine work units of the iteration), ``first_result_s`` and
    ``outputs`` (what ``check`` inspects). ``bin_calls`` maps each traced
    bin_dataframe call to the LAST_RUN_INFO phases it reports."""

    name = ""
    ops: tuple[str, ...] = ()
    bin_calls: dict[str, tuple[str, ...]] = {}
    # the first iteration pays JIT compilation and Python worker start-up;
    # the second still speeds up while hot code gets recompiled
    warmups = 2

    def __init__(self, seed: int, work_dir: str, nproc: int) -> None:
        self.seed = seed
        self.work = work_dir
        self.nproc = nproc
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.io_files: dict[str, str] = {}

    def synthesize(self) -> None:
        pass

    def prepare(self, spark) -> None:
        self.spark = spark

    def expectations(self) -> None:
        pass

    def iteration(self, tr) -> dict:
        raise NotImplementedError

    def check(self, outcome: dict) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def trace_extras(self, tr) -> list[tuple[str, bool, str]]:
        """Per-layer-only calls of the traced run; returns their checks."""
        return []

    def layer_metrics(self, tr) -> dict:
        return {}

    def out(self, name: str) -> str:
        return os.path.join(self.work, name)


# ---------------------------------------------------------------------------
# mpes_run: raw instrument files -> normalized cube
# ---------------------------------------------------------------------------
class MpesRun(Workload):
    """A finished run of mpes-style HDF5 files, loaded and binned the way a
    scientist does right after acquisition."""

    name = "mpes_run"
    ops = ("load", "preview_1d", "map_3d", "normalize", "save_h5", "save_nxs")
    bin_calls = {"preview_1d": SHUFFLE, "map_3d": SHUFFLE}
    n_files = 2
    events_per_file = 500_000
    events_per_ms = 100
    map_bins = (64, 64, 100)

    def __init__(self, seed: int, work_dir: str, nproc: int) -> None:
        super().__init__(seed, work_dir, nproc)
        self.io_files = {"io.to_h5": self.out("map.h5"), "io.to_nexus": self.out("map.nxs")}

    def synthesize(self) -> None:
        rng, n = self.rng, self.events_per_file
        self.paths, ts, xs, ys = [], [], [], []
        start = datetime(2024, 1, 1, tzinfo=timezone.utc)
        for i in range(self.n_files):
            # detector coordinates and time-of-flight are integer steps, as
            # the instrument digitizes them; t extends past the binned range
            cols = {
                "X": rng.integers(0, 2048, n).astype(np.float32),
                "Y": rng.integers(0, 2048, n).astype(np.float32),
                "t": rng.integers(55000, 125000, n).astype(np.float32),
                "ADC": rng.integers(2000, 20000, n).astype(np.float32),
            }
            w = H5Writer()
            for k, (alias, arr) in enumerate(cols.items()):
                w.add_dataset(f"/Stream_{k}", arr, chunks=(65536,),
                              filters=[("deflate", 1)])
                w.add_attr(f"/Stream_{k}", "Name", alias)
            markers = np.sort(rng.choice(n, n // self.events_per_ms, replace=False))
            w.add_dataset("/msMarkers", markers.astype(np.int64))
            t0 = start + timedelta(seconds=10 * i)
            w.add_attr("/", "FirstEventTimeStamp", t0.isoformat())
            path = self.out(f"Scan0001_{i}.h5")
            w.write(path)
            self.paths.append(path)
            xs.append(cols["X"])
            ys.append(cols["Y"])
            ts.append(cols["t"])
        x, y = (np.concatenate(c).astype(np.float64) for c in (xs, ys))
        self.t = np.concatenate(ts).astype(np.float64)
        self.n_events = len(self.t)
        self.bytes_in = sum(os.path.getsize(p) for p in self.paths)
        specs = [(*X_RANGE, self.map_bins[0]), (*Y_RANGE, self.map_bins[1]),
                 (*T_RANGE, self.map_bins[2])]
        self.map_in_range = int(in_range_mask([x, y, self.t], specs).sum())

    def map_spec(self) -> dict:
        return {"bins": list(self.map_bins), "axes": ["X", "Y", "t"],
                "ranges": [X_RANGE, Y_RANGE, T_RANGE]}

    def iteration(self, tr) -> dict:
        from sed_binning_spark.processor import SedProcessor

        t0 = time.perf_counter()
        with tr.span("loaders.sedprocessor_load", "loaders"):
            sp = SedProcessor(spark=self.spark, config={"core": {"loader": "mpes"}},
                              files=self.paths, time_stamps=True)
        with tr.span("binning.preview_1d", "binning"):
            preview = sp.compute(bins=[1000], axes=["t"], ranges=[T_RANGE])
        first = time.perf_counter() - t0
        note_binning(tr, "preview_1d", self.n_events, preview)
        with tr.span("binning.map_3d", "binning"):
            normalized = sp.compute(**self.map_spec(), normalize_to_acquisition_time="t")
        cube = sp.binned
        note_binning(tr, "map_3d", self.n_events, cube)
        with tr.span("io.to_h5", "io"):
            sp.save(self.io_files["io.to_h5"])
        with tr.span("io.to_nexus", "io"):
            sp.save(self.io_files["io.to_nexus"])
        return {"items": 2 * self.n_events, "first_result_s": first,
                "outputs": {"columns": sp.dataframe.columns, "preview": preview,
                            "cube": cube, "normalized": normalized,
                            "hist": sp.normalization_histogram}}

    def check(self, outcome: dict) -> list[tuple[str, bool, str]]:
        o = outcome["outputs"]
        preview, cube, normalized, hist = o["preview"], o["cube"], o["normalized"], o["hist"]
        edges = bin_centers_to_bin_edges(preview.coords["t"])
        want, _ = np.histogram(self.t, bins=edges)
        res = [("load", {"X", "Y", "t", "ADC", "timeStamps"} <= set(o["columns"]),
                f"loaded columns {o['columns']}"),
               ("preview_1d", np.array_equal(preview.data, want),
                "1-D preview != np.histogram of the synthesized t streams")]
        res.append(("map_3d", int(cube.data.sum()) == self.map_in_range,
                    f"3-D total {cube.data.sum()} != in-range {self.map_in_range}"))
        tax = normalized.axis_index("t")
        timed = np.asarray(hist.data) > 0
        finite = np.isfinite(np.compress(timed, normalized.data, axis=tax)).all()
        res.append(("normalize", bool(timed.any() and finite),
                    "normalized cube not finite where acquisition time > 0"))
        res.append(("save_h5", cube_matches_file(cube, self.io_files["io.to_h5"], "/binned/BinnedData"),
                    "h5 round trip differs"))
        res.append(("save_nxs", cube_matches_file(cube, self.io_files["io.to_nexus"], "/entry/data/data"),
                    "nxs round trip differs"))
        return res

    def trace_extras(self, tr) -> list[tuple[str, bool, str]]:
        """The steps SedProcessor.compute composes, driven one layer at a
        time so each layer's self time shows; then a single-threaded decode
        of one raw file."""
        from sed_binning_spark.loaders.mpes import MpesLoader

        with tr.span("loaders.read_dataframe", "loaders"):
            ev, timed, _ = MpesLoader(self.spark).read_dataframe(
                files=self.paths, time_stamps=True)
        with tr.span("loaders.extract", "loaders"):
            ev.write.format("noop").mode("overwrite").save()
        with tr.span("binning.map_3d_direct", "binning"):
            cube = bin_dataframe(ev, **self.map_spec())
        with tr.span("binning.normalization", "binning"):
            hist = normalization_histogram_from_timed_dataframe(
                timed, "t", cube.coords["t"], 0.001)
        with tr.span("io.save_normalized", "io"):
            save(cube / hist, self.out("normalized.h5"))
        with tr.span("io.hdf5_read.read_file", "io.hdf5_read"):
            f = H5File(self.paths[0])
            for p in f.visit():
                if p.startswith("/Stream_"):
                    f.read(p)
        return [("map_3d", int(cube.data.sum()) == self.map_in_range,
                 f"layer-by-layer 3-D total {cube.data.sum()} != in-range {self.map_in_range}")]

    def layer_metrics(self, tr) -> dict:
        from harness import median

        extract_s = median(tr.durations("loaders.extract"))
        return {
            "loaders.read_dataframe_s": median(tr.durations("loaders.read_dataframe")),
            "loaders.extract_s": extract_s,
            "loaders.bytes_in": float(self.bytes_in),
            "loaders.extract_mb_per_s": self.bytes_in / 1e6 / extract_s if extract_s else 0.0,
            "io.hdf5_read.mb_per_s": os.path.getsize(self.paths[0]) / 1e6
            / median(tr.durations("io.hdf5_read.read_file")),
            "binning.normalization_s": median(tr.durations("binning.normalization")),
        }


# ---------------------------------------------------------------------------
# rebin_cached: interactive re-binning of an already-loaded event table
# ---------------------------------------------------------------------------
def workflow_chain(ev):
    """jitter -> k-axis -> spherical energy correction -> energy axis ->
    delay axis, the reference benchmark's calibrate chain."""
    from sed_binning_spark.calibration.delay import append_delay_axis
    from sed_binning_spark.calibration.energy import (
        append_energy_axis,
        apply_energy_correction,
    )
    from sed_binning_spark.calibration.momentum import append_k_axis
    from sed_binning_spark.core.dfops import apply_jitter

    df = apply_jitter(ev, cols=["X", "Y", "t"], cols_jittered=["X", "Y", "t"],
                      amps=0.5, seed=42)
    df, _ = append_k_axis(df, K_CALIB)
    df, _ = apply_energy_correction(df, E_CORRECTION)
    df, _ = append_energy_axis(df, E_FIT, tof_column="tm")
    df, _ = append_delay_axis(df, DELAY_CALIB)
    return df


class RebinCached(Workload):
    """The reference CI suite plus a momentum map and the cube exports, on a
    cached uniform event table."""

    name = "rebin_cached"
    ops = ("binning_1d", "binning_4d", "workflow_1d", "workflow_4d",
           "momentum_map", "to_h5", "to_tiff", "to_nexus")
    bin_calls = {"binning_1d": SHUFFLE, "binning_4d": DRIVER_SMALL, "workflow_1d": SHUFFLE,
                 "workflow_4d": DRIVER_SMALL, "momentum_map": DRIVER_SMALL,
                 "spill_4d": DRIVER_SPILL}
    iteration_calls = ("binning_1d", "binning_4d", "workflow_1d", "workflow_4d", "momentum_map")
    n_rows = 3_000_000
    partitions = 16
    b4 = 50

    def __init__(self, seed: int, work_dir: str, nproc: int) -> None:
        super().__init__(seed, work_dir, nproc)
        self.io_files = {f"io.to_{kind}": self.out(f"cube4d.{ext}")
                         for kind, ext in (("h5", "h5"), ("tiff", "tiff"), ("nexus", "nxs"))}

    def specs(self) -> dict[str, dict]:
        b = self.b4
        return {
            "binning_1d": {"t": (*T_RANGE, 1000)},
            "binning_4d": {"X": (*X_RANGE, b), "Y": (*Y_RANGE, b),
                           "t": (*T_RANGE, b), "ADC": (*ADC_RANGE, b)},
            "workflow_1d": {"energy": (20.0, 60.0, 1000)},
            "workflow_4d": {"kx": (-12.0, 12.0, b), "ky": (-12.0, 12.0, b),
                            "energy": (20.0, 60.0, b), "delay": (-6.0, 6.0, b)},
            "momentum_map": {"X": (*X_RANGE, 64), "Y": (*Y_RANGE, 64), "t": (*T_RANGE, 100)},
        }

    def prepare(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        s = self.seed * 8
        self.ev = (
            spark.range(self.n_rows, numPartitions=self.partitions)
            .select((F.rand(s + 1) * 2048.0).alias("X"),
                    (F.rand(s + 2) * 2048.0).alias("Y"),
                    (60000.0 + F.rand(s + 3) * 60000.0).alias("t"),
                    (2000.0 + F.rand(s + 4) * 18000.0).alias("ADC"))
            .cache()
        )
        self.ev.count()

    def expectations(self) -> None:
        self.t = self.ev.select("t").toArrow().column("t").to_numpy()
        specs = self.specs()
        chained = {n: s for n, s in specs.items() if n.startswith("workflow")}
        self.want_total = {
            **in_range_counts(self.ev, {n: s for n, s in specs.items() if n not in chained}),
            **in_range_counts(workflow_chain(self.ev), chained),
        }

    def _bin(self, tr, name: str, df, spec_name: str | None = None, rows: int = 0) -> object:
        spec = self.specs()[spec_name or name]
        with tr.span(f"binning.{name}", "binning"):
            cube = bin_dataframe(df, bins=[s[2] for s in spec.values()], axes=list(spec),
                                 ranges=[(s[0], s[1]) for s in spec.values()])
        note_binning(tr, name, rows or self.n_rows, cube)
        return cube

    def iteration(self, tr) -> dict:
        cubes = {}
        t0 = time.perf_counter()
        cubes["binning_1d"] = self._bin(tr, "binning_1d", self.ev)
        first = time.perf_counter() - t0
        cubes["binning_4d"] = self._bin(tr, "binning_4d", self.ev)
        for name in ("workflow_1d", "workflow_4d"):
            with tr.span("calibration.plan_build", "calibration"):
                chain = workflow_chain(self.ev)
            cubes[name] = self._bin(tr, name, chain)
        cubes["momentum_map"] = self._bin(tr, "momentum_map", self.ev)
        for span, path in self.io_files.items():
            with tr.span(span, "io"):
                save(cubes["binning_4d"], path)
        return {"items": len(self.iteration_calls) * self.n_rows, "first_result_s": first,
                "outputs": cubes}

    def check(self, outcome: dict) -> list[tuple[str, bool, str]]:
        cubes = outcome["outputs"]
        res = {}
        for name, want in self.want_total.items():
            got = int(cubes[name].data.sum())
            res[name] = (got == want, f"{name} total {got} != in-range {want}")
        c1 = cubes["binning_1d"]
        hist, _ = np.histogram(self.t, bins=bin_centers_to_bin_edges(c1.coords["t"]))
        if not np.array_equal(hist, c1.data):
            res["binning_1d"] = (False, "binning_1d != np.histogram of the collected t")
        c4 = cubes["binning_4d"]
        tiff = load_tiff(self.io_files["io.to_tiff"])
        res["to_h5"] = (cube_matches_file(c4, self.io_files["io.to_h5"], "/binned/BinnedData"),
                        "h5 round trip differs")
        res["to_tiff"] = (tiff.size == c4.data.size and float(tiff.sum()) == float(c4.data.sum()),
                          "tiff round trip differs")
        res["to_nexus"] = (cube_matches_file(c4, self.io_files["io.to_nexus"], "/entry/data/data"),
                           "nxs round trip differs")
        return [(op, *res[op]) for op in self.ops]

    def trace_extras(self, tr) -> list[tuple[str, bool, str]]:
        """The calibrated columns alone, then the 4-D cube over the table
        twice over: more than 4 M rows take the driver route's parquet
        spill + bincount, which the iteration's 3 M rows do not reach."""
        chain = workflow_chain(self.ev)
        with tr.span("calibration.chain_noop", "calibration"):
            (chain.select("kx", "ky", "energy", "delay")
             .write.format("noop").mode("overwrite").save())
        doubled = self.ev.union(self.ev)
        cube = self._bin(tr, "spill_4d", doubled, "binning_4d", 2 * self.n_rows)
        got, want = int(cube.data.sum()), 2 * self.want_total["binning_4d"]
        return [("spill_4d", got == want, f"spill_4d total {got} != in-range {want}")]

    def layer_metrics(self, tr) -> dict:
        from harness import median

        return {
            "calibration.plan_build_s": median(tr.durations("calibration.plan_build")),
            "calibration.chain_noop_s": median(tr.durations("calibration.chain_noop")),
        }


# ---------------------------------------------------------------------------
# curate_docs: LLM-data curation operators
# ---------------------------------------------------------------------------
class CurateDocs(Workload):
    """Exact dedup, MinHash-LSH candidate pairs and text statistics over a
    corpus with exact and near duplicates."""

    name = "curate_docs"
    ops = ("exact_dedup", "minhash_lsh", "text_stats")
    n_base = 1_000
    variants = 10
    vocab_size = 4_000

    def synthesize(self) -> None:
        import pandas as pd

        rng = self.rng
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(["".join(rng.choice(letters, rng.integers(2, 10)))
                          for _ in range(self.vocab_size)])
        # Zipf-like word frequencies, as in natural text
        p = 1.0 / np.arange(1, self.vocab_size + 1)
        p /= p.sum()
        texts = []
        for _ in range(self.n_base):
            words = rng.choice(vocab, rng.integers(40, 200), p=p)
            base = " ".join(words)
            # 10 variants per base document: the base itself, 3-4 exact
            # copies (a third of the corpus), the rest near duplicates with
            # a few words substituted
            n_exact = 3 + int(rng.random() < 1 / 3)
            texts.extend([base] * (1 + n_exact))
            for _ in range(self.variants - 1 - n_exact):
                w = words.copy()
                swap = rng.choice(len(w), max(1, len(w) // 20), replace=False)
                w[swap] = rng.choice(vocab, len(swap), p=p)
                texts.append(" ".join(w))
        order = rng.permutation(len(texts))
        self.docs_pd = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                                     "text": [texts[i] for i in order]})
        self.n_docs = len(self.docs_pd)
        self.path = self.out("documents.parquet")
        self.docs_pd.to_parquet(self.path, index=False)
        self.want_kept = len(self.docs_pd.drop_duplicates(subset="text"))
        self.want_tokens = int(self.docs_pd["text"].str.split().str.len().sum())
        dup_sizes = self.docs_pd.groupby("text").size()
        self.exact_pairs = int((dup_sizes * (dup_sizes - 1) // 2).sum())

    def prepare(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path).repartition(2 * self.nproc).cache()
        self.docs.count()

    def iteration(self, tr) -> dict:
        from pyspark.sql import functions as F

        from sed_binning_spark.pipeline.dedup import exact_dedup, minhash_lsh_pairs
        from sed_binning_spark.pipeline.text import text_stats

        t0 = time.perf_counter()
        with tr.span("pipeline.exact_dedup", "pipeline"):
            kept = exact_dedup(self.docs).count()
        first = time.perf_counter() - t0
        with tr.span("pipeline.minhash_lsh", "pipeline"):
            pairs = minhash_lsh_pairs(self.docs, num_hashes=8, bands=4).count()
        with tr.span("pipeline.text_stats", "pipeline"):
            tokens = text_stats(self.docs).agg(F.sum("n_ws_tokens")).collect()[0][0]
        tr.note("pipeline", {"kept": kept, "pairs": pairs})
        return {"items": self.n_docs, "first_result_s": first,
                "outputs": {"kept": kept, "pairs": pairs, "tokens": tokens}}

    def check(self, outcome: dict) -> list[tuple[str, bool, str]]:
        o = outcome["outputs"]
        return [
            ("exact_dedup", o["kept"] == self.want_kept,
             f"kept {o['kept']} != pandas drop_duplicates {self.want_kept}"),
            # identical texts share every band key, so every exact-duplicate
            # pair is a candidate pair
            ("minhash_lsh", o["pairs"] >= self.exact_pairs,
             f"{o['pairs']} candidate pairs < {self.exact_pairs} exact-duplicate pairs"),
            ("text_stats", int(o["tokens"]) == self.want_tokens,
             f"token sum {o['tokens']} != {self.want_tokens}"),
        ]

    def layer_metrics(self, tr) -> dict:
        from harness import median

        notes = tr.notes.get("pipeline", [])
        return {
            "pipeline.exact_dedup_s": median(tr.durations("pipeline.exact_dedup")),
            "pipeline.minhash_lsh_s": median(tr.durations("pipeline.minhash_lsh")),
            "pipeline.text_stats_s": median(tr.durations("pipeline.text_stats")),
            "pipeline.kept_ratio": notes[-1]["kept"] / self.n_docs if notes else 0.0,
            "pipeline.lsh_pairs": float(notes[-1]["pairs"]) if notes else 0.0,
        }


WORKLOADS = {w.name: w for w in (MpesRun, RebinCached, CurateDocs)}
