"""gfw_raster_analysis_lambda_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query semantics of WRI's
gfw-raster-analysis-lambda ("Raster SQL" zonal statistics) as idiomatic
PySpark: the relational shell (filters, group-by, partial+final aggregation,
order/limit) rides Catalyst; the spatial layer (cell grid, polygon
rasterization, geodesic pixel area, image tile codecs) is custom vectorized
numpy kernels carried by Arrow-batched UDFs (the zonal kernel through
Spark's Arrow APIs, the others as pandas UDFs).

Reference semantics studied at /root/reference (see SURVEY.md for the
operator-by-operator mapping with file:line citations). No code is copied
from the reference; this package targets Spark's execution model directly.
"""

__version__ = "0.1.0"

import importlib

# The public names load on first use (PEP 562), so importing the package
# does not import pyspark: ``worker_daemon`` runs as a submodule and must
# filter the worker's path before pyspark is imported.
_EXPORTS = {
    "aoi_from_geojson": ".api",
    "zonal_statistics": ".api",
    "zonal_statistics_batch": ".api",
    "zonal_statistics_multi": ".api",
    "run_zonal_checkpointed": ".checkpoint",
    "ZonalResultSet": ".plans.planner",
    "prepare_aoi_index": ".plans.planner",
    "get_spark": ".session",
    "DataEnvironment": ".sources.catalog",
    "DerivedLayer": ".sources.catalog",
    "MultiDerivedLayer": ".sources.catalog",
    "SourceLayer": ".sources.catalog",
}
__all__ = sorted(_EXPORTS)


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module, __name__), name)
    globals()[name] = value
    return value


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
