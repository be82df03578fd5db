"""Sinks: partitioned collection writer + catalog registry + exports."""

from pygeoapi_ingestor_spark.sinks.collections import (
    CollectionCatalog,
    compute_extents,
    export,
    export_geojsonl,
    write_collection,
)

__all__ = [
    "CollectionCatalog",
    "compute_extents",
    "export",
    "export_geojsonl",
    "write_collection",
]
