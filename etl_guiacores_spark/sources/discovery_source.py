"""Spark 4 Python DataSource packaging the discovery crawl (S7).

The reference drives a browser through rubro x localidad search
combinations and accumulates business URLs
(reference: src/extractors/sequential_collector.py:125-194). The
idiomatic Spark 4 packaging is a custom ``DataSource`` (SURVEY §4):

- one InputPartition per (rubro, localidad) combination — the J1
  cross product becomes SOURCE-LEVEL parallelism, each combination
  crawled by a different task;
- the rubro/localidad/has-email filters are reader OPTIONS — pushed
  into the source request exactly like the reference encodes ``Tm=1``
  in the search URL (:339-348), so filtering happens before any rows
  exist;
- the listing fetcher is injected via the ``listing_factory``
  option — a ``module:attr`` dotted path resolving (on the executor)
  to a callable ``(rubro, localidad, page, page_size) -> [(id, url)]``
  — and defaults to a deterministic synthetic directory, so the
  source is testable offline and a deployment plugs a real
  HTTP-backed lister without touching this module.

Usage::

    spark.dataSource.register(ListingDataSource)
    df = (spark.read.format("guiacores_listing")
          .option("rubros", "panaderia,ferreteria")
          .option("localidades", "neuquen")
          .option("pages_per_combo", "3")
          .load())
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from etl_guiacores_spark.sources.html_parse import DETAIL_URL_BASE


def synthetic_listing(rubro: str, localidad: str, page: int, page_size: int = 10):
    """Deterministic fake of one listing page's parse result: the
    (id, url) pairs a real transport+parse_search_results would yield.
    IDs overlap across pages (the reference's re-discovery dirt) so
    downstream keyed dedupe (D2) has work to do."""
    import hashlib

    # md5, not hash(): Python string hashing is process-salted and
    # would make the synthetic ids differ across executor workers
    digest = hashlib.md5(f"{rubro}|{localidad}".encode()).digest()
    base = (int.from_bytes(digest[:4], "big") % 1000) * 1000
    # 2-row overlap with the previous page; floor the step at 1 so a
    # tiny page_size (<=2) still advances instead of repeating or
    # regressing the same ids forever
    start = base + page * max(page_size - 2, 1)
    return [(str(start + i), f"{DETAIL_URL_BASE}{start + i}") for i in range(page_size)]


class _ComboPartition(InputPartition):
    def __init__(
        self, rubro: str, localidad: str, pages: int, page_size: int,
        listing_factory: str | None = None,
    ):
        self.rubro, self.localidad = rubro, localidad
        self.pages, self.page_size = pages, page_size
        self.listing_factory = listing_factory


class ListingReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rubros = [r for r in (options.get("rubros") or "").split(",") if r]
        self.localidades = [
            loc for loc in (options.get("localidades") or "").split(",") if loc
        ]
        self.pages = int(options.get("pages_per_combo", 2))
        self.page_size = int(options.get("page_size", 10))
        #: dotted path 'module:attr' to a real lister; None = synthetic
        self.listing_factory = options.get("listing_factory") or None

    def partitions(self):
        # J1 cross product -> one partition per combination (with the
        # reference's one-sided/empty fallbacks,
        # sequential_collector.py:140-154)
        rubros = self.rubros or [""]
        localidades = self.localidades or [""]
        return [
            _ComboPartition(r, loc, self.pages, self.page_size, self.listing_factory)
            for r in rubros
            for loc in localidades
        ]

    def read(self, partition: _ComboPartition):
        lister = synthetic_listing
        if partition.listing_factory:
            # resolve ON THE EXECUTOR: DataSource options are strings,
            # so a real transport travels as an import path, not a
            # pickled object
            import importlib

            mod_name, _, attr = partition.listing_factory.partition(":")
            lister = getattr(importlib.import_module(mod_name), attr)
        for page in range(partition.pages):
            for bid, url in lister(
                partition.rubro, partition.localidad, page, partition.page_size
            ):
                yield (bid, url, partition.rubro or None, partition.localidad or None, page)


class ListingDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "guiacores_listing"

    def schema(self) -> str:
        return "id_negocio string, url string, rubro string, localidad string, page int"

    def reader(self, schema) -> ListingReader:
        return ListingReader(self.options)


# closures/classes travel by value to executor workers (see shipping.py)
import sys as _sys  # noqa: E402

from etl_guiacores_spark import shipping as _shipping  # noqa: E402

_shipping.register_udf_module(_sys.modules[__name__])
