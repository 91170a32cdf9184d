"""The benchmark workloads: inputs, the timed job, and the layer probes.

A job runs from the first public call (``read_parquet``) to the end of its
last action, which writes to Spark's ``noop`` sink. Every call into a layer
is wrapped in a tracer span; with the null tracer the spans cost nothing,
so the timed and the traced runs execute the same code.

Probes run only in the traced run. They call the public functions of the
layers the job does not action on its own (sources, segmenter, the
per-config frames, the pipeline prefixes) so each layer gets its own time
and Spark counters.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from tsflex_spark import (
    FeatureCollection,
    FuncWrapper,
    MultipleFeatureDescriptors,
    SeriesPipeline,
    SeriesProcessor,
    chunk_data,
)
from tsflex_spark.features import segmenter as seg
from tsflex_spark.sources import read_parquet
from tsflex_spark.utils.data import DataType
from tsflex_spark.utils.time_args import to_numeric_units

SOURCES = "sources"
SEGMENTER = "features.segmenter"
FC = "features.feature_collection"
PIPELINE = "processing.series_pipeline"
CHUNKING = "chunking"

GRID_FUNCS = ["sum", "min", "max", "mean", "std", "var"]
GRID_WINDOWS = ["10s", "120s"]
GRID_STRIDES = ["5s", "15s"]
SPARSE_FUNCS = ["mean", "std", "min", "max"]
HR_LO, HR_HI = 40.0, 180.0
MAX_GAP = "5s"


def polyfit_slope(x: np.ndarray) -> float:
    """Least-squares slope of a window against its sample position."""
    if len(x) < 2:
        return float("nan")
    return float(np.polyfit(np.arange(len(x), dtype=np.float64), x, 1)[0])


def smooth5(x: np.ndarray) -> np.ndarray:
    """Centred 5-tap moving sum over edge-padded values, divided by 5."""
    padded = np.pad(x, 2, mode="edge")
    return np.convolve(padded, np.ones(5), mode="valid") / 5.0


def _smooth_step(hr: np.ndarray):
    import pandas as pd

    return pd.Series(smooth5(hr), name="hr_smooth")


def _clip_step(hr):
    return F.least(F.greatest(hr, F.lit(HR_LO)), F.lit(HR_HI))


def grid_collection() -> FeatureCollection:
    return FeatureCollection(
        MultipleFeatureDescriptors(GRID_FUNCS, inputs.AXES, GRID_WINDOWS, GRID_STRIDES)
    )


def sparse_collection() -> FeatureCollection:
    funcs = SPARSE_FUNCS + [FuncWrapper(polyfit_slope, output_names="slope")]
    return FeatureCollection(MultipleFeatureDescriptors(funcs, "hr_smooth", "5min", "1min"))


def sparse_pipeline(steps: int = 2) -> SeriesPipeline:
    all_steps = [
        SeriesProcessor(_clip_step, "hr", input_type="column"),
        SeriesProcessor(_smooth_step, "hr", input_type="numpy", output_schema="hr_smooth double"),
    ]
    return SeriesPipeline(all_steps[:steps])


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_noop(df: DataFrame) -> int:
    """Write ``df`` to the noop sink and return its row count, observed
    during that same execution."""
    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


@dataclass
class Workload:
    name: str
    key_cols: List[str]
    series: List[str]  # the raw series the features are computed from
    write: Callable[[str, np.random.Generator, bool], int]
    collection: Callable[[], FeatureCollection]
    configs: List[Tuple[str, List[str]]]  # (window, strides) of the collection
    pipeline: Optional[Callable[..., SeriesPipeline]] = None


# ------------------------------------------------------------------ the job
def job(spark: SparkSession, path: str, tr, wl: Workload) -> Dict[str, DataFrame]:
    """One job: features (after the pipeline, and then chunks, if the
    workload has one). Returns the output frames for the check."""
    with tr.span("sources.read_parquet", SOURCES):
        df = read_parquet(spark, path)
    if wl.pipeline is not None:
        with tr.span("processing.series_pipeline.build", PIPELINE):
            df = wl.pipeline().process(df, key_cols=wl.key_cols)
    with tr.span("features.feature_collection.build", FC):
        out = {"features": wl.collection().calculate(df, key_cols=wl.key_cols)}
    if wl.pipeline is not None:
        with tr.span("chunking.build", CHUNKING):
            out["chunks"] = chunk_data(df, max_gap=MAX_GAP, key_cols=wl.key_cols)
    with tr.span("features.feature_collection.exec", FC):
        noop(out["features"])
    if "chunks" in out:
        with tr.span("chunking.exec", CHUNKING):
            noop(out["chunks"])
    return out


# ------------------------------------------------------------------ probes
def probe(spark: SparkSession, path: str, tr, wl: Workload) -> Dict[str, float]:
    """Per-layer calls for the traced run; returns the counts they observe
    (times come from the spans)."""
    counts: Dict[str, float] = {}
    with tr.span("sources.read", SOURCES):
        df = read_parquet(spark, path)
        counts["sources.rows"] = observed_noop(df)

    data_n = seg.numeric_index(df.select("ts", *wl.key_cols, *wl.series), "ts", DataType.TIME)
    with tr.span("features.segmenter.bounds", SEGMENTER):
        bounds_plan = seg.make_bounds(data_n, wl.series, wl.key_cols)
        bounds = spark.createDataFrame(bounds_plan.toPandas(), bounds_plan.schema)
    assigned = spine = 0
    for window, strides in wl.configs:
        w = to_numeric_units(window, True)
        s = [to_numeric_units(x, True) for x in strides]
        with tr.span(f"features.segmenter.assign.w{window}", SEGMENTER):
            assigned += observed_noop(seg.assign_segments(data_n, bounds, w, s, False, wl.key_cols))
        with tr.span(f"features.segmenter.spine.w{window}", SEGMENTER):
            spine += observed_noop(seg.make_segment_spine(bounds, w, s, False, wl.key_cols))
    counts["features.segmenter.assigned_rows"] = assigned
    counts["features.segmenter.spine_rows"] = spine

    feat_input = df
    if wl.pipeline is not None:
        with tr.span("processing.series_pipeline.column_step", "profile"):
            noop(wl.pipeline(1).process(df, key_cols=wl.key_cols))
        with tr.span("processing.series_pipeline.exec", PIPELINE):
            feat_input = wl.pipeline().process(df, key_cols=wl.key_cols)
            noop(feat_input)
    frames = wl.collection().calculate(feat_input, key_cols=wl.key_cols, return_df=False)
    counts["features.feature_collection.configs"] = len(frames)
    for i, frame in enumerate(frames):
        with tr.span(f"features.feature_collection.config_exec.{i}", "profile"):
            noop(frame)
    return counts


# ---------------------------------------------------------------- registry
def sizes(smoke: bool) -> Dict[str, int]:
    """Input sizes; ``smoke`` gives the tiny sizes of the self-test."""
    if smoke:
        return {"grid_subjects": 2, "grid_seconds": 300, "sparse_devices": 4, "sparse_samples": 1800, "sparse_gaps": 3}
    return {"grid_subjects": 4, "grid_seconds": 1800, "sparse_devices": 30, "sparse_samples": 1800, "sparse_gaps": 3}


def _write_grid(path: str, rng: np.random.Generator, smoke: bool) -> int:
    z = sizes(smoke)
    keys = [f"s{i}" for i in range(z["grid_subjects"])]
    return inputs.write_wearable(path, rng, keys, z["grid_seconds"], 32)


def _write_sparse(path: str, rng: np.random.Generator, smoke: bool) -> int:
    z = sizes(smoke)
    return inputs.write_sparse(path, rng, z["sparse_devices"], z["sparse_samples"], z["sparse_gaps"])


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in [
        Workload(
            "grid_native", ["subject"], list(inputs.AXES), _write_grid, grid_collection,
            [(w, GRID_STRIDES) for w in GRID_WINDOWS],
        ),
        Workload(
            "sparse_pipeline", ["device"], ["hr"], _write_sparse, sparse_collection,
            [("5min", ["1min"])], sparse_pipeline,
        ),
    ]
}
