"""Physical-plan regression tests — mechanically enforce the plan shapes
SCALE.md documents, so a refactor that silently de-optimizes a hot path
(row-at-a-time Python UDF, lost filter pushdown, cartesian expansion, a
global sort window) fails CI instead of only showing up at 100 TB.

The reference trusts its hand-scheduled Numba/dask execution implicitly;
the Spark-first equivalent of that trust is asserting what Catalyst
actually planned.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sed_binning_spark.binning.binning import bin_dataframe_sparse
from sed_binning_spark.calibration.delay import append_delay_axis
from sed_binning_spark.calibration.energy import append_energy_axis, apply_energy_correction
from sed_binning_spark.calibration.momentum import append_k_axis, apply_dfield
from sed_binning_spark.core.dfops import apply_jitter, forward_fill
from sed_binning_spark.pipeline.dedup import exact_dedup, minhash_lsh_pairs
from sed_binning_spark.pipeline.similarity import cosine_topk

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TESTS", "/root/testdata/sf0.001")

needs_testdata = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/documents.parquet"),
    reason="driver testdata not present",
)

# Any of these in a hot-path plan means rows are crossing the Python
# boundary. (Arrow nodes are allowed only where a test says so.)
ROW_PYTHON_NODES = ("BatchEvalPython",)
ALL_PYTHON_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
    "FlatMapGroupsInPandas", "PythonMapInArrow", "MapInArrow",
)


def plan_of(df) -> str:
    """Physical (executed) plan string; with AQE this is the initial
    AdaptiveSparkPlan, which still names every operator and exchange."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events_sdf(spark, events_pdf):
    return spark.createDataFrame(events_pdf)


def _workflow_chain(df):
    from __spark_entry__ import _DELAY_CALIB, _E_FIT, _K_CALIB

    df = apply_jitter(df, cols=["X", "Y", "t"], cols_jittered=["X", "Y", "t"],
                      amps=0.5, seed=42)
    df, _ = append_k_axis(df, _K_CALIB)
    df, _ = apply_energy_correction(df, {
        "correction_type": "spherical", "center": (1024.0, 1024.0),
        "amplitude": 2.5, "diameter": 3000.0,
    })
    df, _ = append_energy_axis(df, {**_E_FIT}, tof_column="tm")
    df, _ = append_delay_axis(df, _DELAY_CALIB)
    return df


def test_binning_plan_stays_in_jvm_with_one_shuffle(events_sdf):
    """The core aggregation: partial agg -> ONE exchange -> final agg, and
    not a single Python eval node anywhere."""
    agg = bin_dataframe_sparse(
        events_sdf, bins=[100, 100], axes=["X", "Y"],
        ranges=[(0.0, 2048.0), (0.0, 2048.0)],
    )
    plan = plan_of(agg)
    for node in ALL_PYTHON_NODES:
        assert node not in plan, f"Python boundary in binning plan:\n{plan}"
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert plan.count("Exchange") == 1, plan


def test_workflow_chain_stays_in_jvm(events_sdf):
    """Jitter + momentum/energy/delay calibration + energy correction +
    histogram: the full benchmark chain must be pure codegen."""
    agg = bin_dataframe_sparse(
        _workflow_chain(events_sdf), bins=[1000], axes=["energy"],
        ranges=[(20.0, 60.0)],
    )
    plan = plan_of(agg)
    for node in ALL_PYTHON_NODES:
        assert node not in plan, f"Python boundary in workflow plan:\n{plan}"
    assert plan.count("Exchange") == 1, plan


@needs_testdata
def test_parquet_scan_pushes_filter_and_prunes_columns(spark):
    """Predicate pushdown + column pruning must reach the parquet scan:
    a 2-column projection that reads every column is the wrong plan."""
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("n_chars") > 500)
        .select("doc_id", "n_chars")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan, plan
    assert "GreaterThan(n_chars,500)" in plan, plan
    # ReadSchema carries only the projected+filtered columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "n_chars" in read_schema, plan
    assert "text" not in read_schema, f"column pruning lost:\n{plan}"


@needs_testdata
def test_cosine_topk_is_take_ordered_not_global_sort(spark):
    """Brute-force ANN top-k must plan as TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows), never a full sort."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").head()[0])
    q = np.round(np.sin(np.arange(dim) * 0.37), 6)
    plan = plan_of(cosine_topk(emb, q, k=10))
    assert "TakeOrderedAndProject" in plan, plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


@needs_testdata
def test_exact_dedup_is_single_hash_shuffle(spark):
    """Exact dedup: one groupBy(digest) exchange; the shuffle key is the
    digest, never the document body."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(exact_dedup(docs))
    assert plan.count("Exchange") == 1, plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


@needs_testdata
def test_minhash_lsh_never_plans_a_cross_product(spark):
    """LSH candidate generation must stay bucket-local — the plan is a
    groupBy(band key) collect_set + expression-level pair expansion; any
    CartesianProduct / nested-loop join here is O(n^2) at scale."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs, num_hashes=8, bands=4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "collect_set" in plan, plan  # bucket aggregation, not a self-join
    # signature computation must appear ONCE (a self-join would plan the
    # md5/shingle pipeline twice)
    assert plan.count("md5(") == 1, plan
    for node in ROW_PYTHON_NODES:
        assert node not in plan, plan


def test_forward_fill_windows_are_per_file_not_global(spark):
    """The fill window must partition by file — a global orderBy window
    serializes the whole table through one task at scale."""
    pdf = pd.DataFrame({
        "file_id": np.repeat(np.arange(4), 25).astype("int64"),
        "row_id": np.tile(np.arange(25), 4).astype("int64"),
        "ch": [None if i % 3 else float(i) for i in range(100)],
    })
    out = forward_fill(spark.createDataFrame(pdf), "ch")
    plan = plan_of(out)
    assert "windowspecdefinition(file_id" in plan, plan
    # boundary handoff joins broadcast (tiny per-file frame)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_dfield_udf_is_arrow_batched_not_row_at_a_time(events_sdf):
    """The one sanctioned Python crossing (M9 grid lookup) must be an
    Arrow-batched pandas_udf, never row-at-a-time pickling."""
    dfield = np.stack([
        np.tile(np.arange(64, dtype=float)[:, None], (1, 64)),
        np.tile(np.arange(64, dtype=float)[None, :], (64, 1)),
    ])
    out = apply_dfield(events_sdf, dfield)
    plan = plan_of(out)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_text_curation_chain_stays_in_jvm(spark):
    """pii_stats + scrub_pii + dup_line_stats + quality_score compose into
    pure regexp/array expressions — zero Python nodes, zero shuffles: one
    map-only pass over the text column."""
    from sed_binning_spark.pipeline.text import (
        dup_line_stats,
        pii_stats,
        quality_score,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [(0, "a http://x.io b\nc\nc")], "doc_id int, text string",
    )
    out = quality_score(dup_line_stats(scrub_pii(pii_stats(df))))
    plan = plan_of(out)
    for node in ALL_PYTHON_NODES:
        assert node not in plan, f"Python boundary in text curation:\n{plan}"
    assert "Exchange" not in plan, plan


def test_sampling_and_splits_are_map_only(spark):
    """Hash-keyed sampling/split assignment must compile to pure JVM
    expressions: no Python boundary, no shuffle, no rand() (whose
    partition-index seeding is the thing being designed around)."""
    from sed_binning_spark.pipeline.sample import assign_splits, deterministic_sample

    df = spark.createDataFrame([(0, 0, 1.0)], "file_id int, row_id int, x double")
    out = assign_splits(
        deterministic_sample(df, 0.5, seed=1),
        {"train": 0.9, "val": 0.1}, seed=2,
    )
    plan = plan_of(out)
    for node in ALL_PYTHON_NODES:
        assert node not in plan, f"Python boundary in sampling plan:\n{plan}"
    assert "Exchange" not in plan, plan
    assert "rand(" not in plan, plan


@needs_testdata
def test_segment_dedup_combines_map_side_and_never_windows_on_segment(spark):
    """The keep-first winner must be a partial-aggregated min (a window
    over the segment key would ship every occurrence of a boilerplate
    segment to one reducer), the reassembly one id-keyed aggregation,
    and no Python anywhere."""
    from sed_binning_spark.pipeline.dedup import dedup_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(dedup_segments(docs))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


@needs_testdata
def test_unigram_logprob_reuses_the_token_exchange(spark):
    """The self-scored LM must evaluate the corpus token aggregation ONCE:
    the totals branch reuses the LUT branch's groupBy(token) exchange
    instead of recomputing it, and the LUT reaches the scorer as a
    broadcast."""
    from sed_binning_spark.pipeline.lm import unigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = unigram_logprob(docs)
    df.collect()  # AQE finalizes the executed plan
    plan = plan_of(df)
    assert "ReusedExchange" in plan, plan
    assert "BroadcastExchange" in plan, plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


def test_badword_literal_path_is_map_only(spark):
    """The literal word list compiles to in-codegen membership tests:
    no Python boundary, no shuffle, no join."""
    from sed_binning_spark.pipeline.filters import badword_stats

    df = spark.createDataFrame([(0, "a bad b")], "doc_id int, text string")
    plan = plan_of(badword_stats(df, ["bad", "worse"], method="literal"))
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


@needs_testdata
def test_pack_sequences_slices_before_the_sequence_shuffle(spark):
    """Token slices must be cut in the projection BEFORE the
    groupBy(shard, seq_id) exchange — a document crossing a boundary
    ships each token once; and reassembly is an aggregation, not a
    window."""
    from sed_binning_spark.pipeline.pack import pack_chunks, pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    man = pack_chunks(docs, seq_tokens=64, n_shards=8)
    plan = plan_of(pack_sequences(man, docs))
    assert "slice(" in plan, plan
    # scope: this pins the BROADCAST-join regime (test-scale docs fit the
    # autoBroadcast threshold). In it, reassembly adds no exchange —
    # hash(shard) from the manifest's layout window already satisfies the
    # (shard, seq_id) clustering, so the partial aggregate sits directly
    # on the slice projection. At production scale the id-keyed join is
    # an SMJ and a repartition is legitimate (pack.py's 'payload moves
    # exactly twice'); if this first assert ever trips, the regime
    # changed, not the operator.
    assert "BroadcastHashJoin" in plan, plan
    assert "hashpartitioning(shard, seq_id" not in plan, plan
    assert "partial_collect_list" in plan, plan
    slice_pos = plan.index("slice(")
    agg_pos = plan.index("partial_collect_list")
    assert agg_pos < slice_pos, plan  # plan prints top-down: slice below agg
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


@needs_testdata
def test_shuffled_pack_order_adds_no_shuffle(spark):
    """order='shuffled' is a sort-KEY flip inside pack_chunks' existing
    per-shard window — the md5 order key is a map-side projection, so
    the plan carries exactly as many exchanges as the id-order layout
    and still no Python stage. This is the zero-cost claim the shuffled
    training order rests on."""
    from sed_binning_spark.pipeline.pack import pack_chunks

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan_id = plan_of(pack_chunks(docs, seq_tokens=64, n_shards=8))
    plan_sh = plan_of(
        pack_chunks(docs, seq_tokens=64, n_shards=8, order="shuffled"),
    )
    assert plan_sh.count("Exchange") == plan_id.count("Exchange"), plan_sh
    assert "__okey" in plan_sh  # the flip is real, not optimized away
    for node in ALL_PYTHON_NODES:
        assert node not in plan_sh, plan_sh


@needs_testdata
def test_url_canonicalize_is_map_only_and_dedup_shuffles_slim(spark):
    """canonicalize_urls is one Python-free projection (try_parse_url +
    string expressions fold into the scan's codegen stage); dedup_by_url
    shuffles only the (canonical url, id) pair — the document text never
    reaches its exchange, and the aggregate combines map-side."""
    from sed_binning_spark.pipeline.url import canonicalize_urls, dedup_by_url

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "url", F.concat(F.lit("http://h"), (F.col("doc_id") % 9).cast("string"),
                        F.lit(".example/p?utm_source=x&a=1")),
    )
    plan = plan_of(canonicalize_urls(docs))
    assert "Exchange" not in plan, plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan

    plan = plan_of(dedup_by_url(docs))
    assert plan.count("Exchange") == 1, plan
    assert "partial_min" in plan or "partial_first" in plan, plan
    # the shuffled row is (canonical_url, partial aggregates) — the text
    # column must be pruned before the exchange
    exchange_at = plan.index("Exchange")
    assert "text" not in plan[exchange_at : exchange_at + 400], plan
    for node in ALL_PYTHON_NODES:
        assert node not in plan, plan


def test_sample_frames_is_one_python_stage_no_shuffle(spark):
    """sample_frames is ONE MapInPandas over (id, payload) — no shuffle,
    no driver collect, and the projection prunes every other column
    before the Python boundary."""
    from sed_binning_spark.pipeline.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"GIF89a"), "x")],
        "media_id long, payload binary, other string",
    )
    plan = plan_of(sample_frames(media))
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    # the projection feeding Python carries only (id, payload) — the
    # source scan line naming every relation column doesn't count
    proj = next(ln for ln in plan.splitlines() if "Project [" in ln)
    assert "other" not in proj, plan


def test_tag_and_subtitle_mining_are_one_python_stage_no_shuffle(spark):
    """extract_media_tags / extract_subtitle_cues are ONE MapInPandas
    over (id, payload) each — no shuffle, no driver collect, no second
    Python boundary: tag mining rides a corpus scan for free."""
    from sed_binning_spark.pipeline.subtitles import extract_subtitle_cues
    from sed_binning_spark.pipeline.tags import extract_media_tags

    media = spark.createDataFrame(
        [(1, bytearray(b"ID3"), "x")],
        "media_id long, payload binary, other string",
    )
    from sed_binning_spark.pipeline.imagehash import image_dhash
    from sed_binning_spark.pipeline.manifest import media_manifest

    for op in (extract_media_tags, extract_subtitle_cues,
               media_manifest, image_dhash):
        plan = plan_of(op(media))
        assert plan.count("MapInPandas") == 1, plan
        assert "Exchange" not in plan, plan


def test_dhash_pairs_shuffles_band_keys_only(spark):
    """dhash_pairs is the image twin of the text LSH joins: band
    extraction is pure expressions below ONE equi-join (no nested
    loop, no cartesian product), and the hamming verify runs after the
    join without another Python boundary."""
    from sed_binning_spark.pipeline.imagehash import dhash_pairs

    hashes = spark.createDataFrame(
        [(1, 7), (2, 7)], "media_id long, dhash long",
    )
    plan = plan_of(dhash_pairs(hashes))
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_raw_loader_plans_read_one_file_per_task_without_exchange(spark, tmp_path):
    """The raw-instrument loaders read straight off the file-id source: the
    mpes event frame, the mpes timed frame and the flash/sxp per-electron
    frame are each ONE Python stage over a range scan — no exchange to deal
    files to tasks, and the timed frame samples the markers itself instead
    of joining against the event frame."""
    from sed_binning_spark.io.hdf5_write import H5Writer
    from sed_binning_spark.loaders.flash import electron_frames_distributed
    from sed_binning_spark.loaders.mpes import MpesLoader

    paths = []
    for i in range(3):
        w = H5Writer()
        w.add_dataset("/Stream_0", np.arange(10, dtype=np.float32))
        w.add_dataset("/msMarkers", np.array([2, 5], dtype=np.int64))
        paths.append(str(tmp_path / f"Scan0001_{i}.h5"))
        w.write(paths[-1])
    ev, timed, _ = MpesLoader(spark).read_dataframe(files=paths, time_stamps=True)
    electron = electron_frames_distributed(
        spark, paths, {"dldPosX": {"format": "per_electron"}},
    )
    for df in (ev, timed, electron):
        plan = plan_of(df)
        assert plan.count("MapInPandas") == 1, plan
        assert "Range" in plan, plan
        assert "Exchange" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
