"""Query parameter / result models (ref ``query/models.py``) —
API-agnostic query semantics, not wire formats."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column, DataFrame


@dataclass
class QueryParams:
    """Unified query parameters (ref query/models.py:11-45)."""

    # -- geometry predicates (envelope and/or exact WKT filter) --
    bbox: Optional[tuple[float, float, float, float]] = None
    geometry_filter: Optional[str] = None  # WKT
    spatial_rel: str = "intersects"  # intersects | contains | within

    # -- attribute predicate (sanitized WHERE fragment) --
    where: Optional[str] = None
    # -- attribute predicate as a typed Column expression: programmatic
    # callers (e.g. the OGC provider) pass predicates WITHOUT a text
    # round-trip through the sanitizer; ANDed with `where` when both set.
    where_expr: Optional[Column] = None

    # -- projection: which columns come back --
    out_fields: Optional[str] = None  # comma-separated or "*"
    return_geometry: bool = True

    # -- paging window --
    limit: Optional[int] = 1000
    offset: Optional[int] = 0

    # -- result ordering --
    order_by: Optional[str] = None

    # -- alternate result shapes (count / id-list / extent / fetch-by-oid) --
    return_count_only: bool = False
    return_ids_only: bool = False
    return_extent_only: bool = False
    object_ids: Optional[list[int]] = None

    # -- coordinate reference of returned geometries --
    out_sr: Optional[int] = None
    # -- server-side vertex thinning tolerance (maxAllowableOffset) --
    max_allowable_offset: Optional[float] = None


class QueryResult:
    """Ref query/models.py:48-60 — features as a (lazy) DataFrame here.

    ``features`` is the exact page. A bounded page (``page_limit`` set)
    also carries ``probe``: the same ordered rows and columns with room
    for one more. A serializer calls `collect`, which reads the probe in
    ONE job, trims it to the page and learns ``count`` and
    ``exceeded_transfer_limit`` from it — no separate COUNT job. A
    caller that reads ``count`` or ``exceeded_transfer_limit`` without
    collecting pays at most one job (a count over the probe), once.
    Reshape the rows with `transform` so page and probe stay in step.
    """

    def __init__(
        self,
        features: Optional[DataFrame] = None,
        geometry_column: str = "geometry",
        count: Optional[int] = None,
        exceeded_transfer_limit: Optional[bool] = None,
        # filled only for returnExtentOnly: {xmin, ymin, xmax, ymax} or
        # None when the filtered set is empty
        extent: Optional[dict] = None,
        probe: Optional[DataFrame] = None,
        page_limit: Optional[int] = None,
    ):
        self.features = features
        self.geometry_column = geometry_column
        self.extent = extent
        self.probe = features if probe is None else probe
        self.page_limit = page_limit
        self._count = 0 if count is None and features is None else count
        if exceeded_transfer_limit is None and page_limit is None:
            exceeded_transfer_limit = False
        self._exceeded = exceeded_transfer_limit

    @property
    def count(self) -> int:
        if self._count is None:
            self._resolve(self.probe.count())
        return self._count

    @property
    def exceeded_transfer_limit(self) -> bool:
        if self._exceeded is None:
            self._resolve(self.probe.count())
        return self._exceeded

    def _resolve(self, n_probe: int) -> None:
        if self.page_limit is not None:
            self._exceeded = n_probe > self.page_limit
            n_probe = min(n_probe, self.page_limit)
        self._count = n_probe

    def transform(self, fn) -> None:
        """Apply a row-preserving reshaping (``DataFrame -> DataFrame``)
        to the page and its probe alike."""
        same = self.probe is self.features
        self.features = fn(self.features)
        self.probe = self.features if same else fn(self.probe)

    def collect(self, project=None) -> list:
        """The page's rows in order, ``project(frame)`` applied first:
        one job over the probe, trimmed to ``page_limit``."""
        frame = self.probe if project is None else project(self.probe)
        rows = frame.collect()
        self._resolve(len(rows))
        return rows[: self.page_limit] if self.page_limit is not None else rows

    @classmethod
    def empty(cls) -> "QueryResult":
        return cls(features=None, count=0)
