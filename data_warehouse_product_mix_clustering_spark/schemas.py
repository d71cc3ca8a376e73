"""The driver's testdata table names (TESTDATA.md): the tables
``sources/registry.py::load_testdata`` loads.
Column types are not forced on read (parquet carries them);
tests/test_schemas.py pins them against the testdata.
"""

from __future__ import annotations

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
