"""GeoNet REST source as a Spark Python Data Source with filter pushdown.

Reproduces the reference's source contract (O2/O9, SURVEY.md §2.1):
``fetch('https://api.geonet.org.nz/quake?MMI=${mmi}')`` — the MMI
predicate is pushed down server-side as a query parameter
(/root/reference/task.ts:176-181), and a non-2xx response aborts the
run (task.ts:179-181).

Spark-first shape: a DataSource V2-style Python source
(``spark.dataSource.register``) whose reader

- declares the exploded feature schema (one row per feature — the
  source absorbs O3 decode + O4 explode);
- implements ``pushFilters``: a ``GreaterThanOrEqual('mmi', v)`` (or
  EqualTo) filter is folded into the request URL exactly like the
  reference, everything else is left for Spark to evaluate;
- supports fixture replay (``path`` option) so tests never touch the
  network, with identical row output either way — the invariant
  SURVEY §2.1/O9 demands.

Usage::

    spark.dataSource.register(GeoNetDataSource)
    df = (spark.read.format("geonet")
          .option("path", "tests/fixtures/geonet_quakes.json").load())
    df = spark.read.format("geonet").load()          # live API
    df.filter(F.col("properties.mmi") >= 5)           # pushed to URL

Requires ``spark.sql.python.filterPushdown.enabled=true`` for the
pushdown path (set in session.get_spark); without it the source still
works, Spark just evaluates the filter itself — same rows.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from etl_geonet_quakes_spark.quakes.schema import GEONET_FEATURE_SCHEMA

DEFAULT_URL = "https://api.geonet.org.nz/quake"


class GeoNetDataSource(DataSource):
    """``format("geonet")`` — GeoNet /quake endpoint or fixture file.

    Batch (``spark.read``) and streaming (``spark.readStream``): the
    stream is the reference's schedule-tick contract
    (task.ts:142-143 — poll the endpoint every trigger) expressed as
    a real Structured Streaming source with replayable offsets; in
    fixture mode each micro-batch consumes the next snapshot file of
    a directory, which is how tests drive the poll loop without a
    network."""

    @classmethod
    def name(cls) -> str:
        return "geonet"

    def schema(self) -> StructType:
        return GEONET_FEATURE_SCHEMA

    def reader(self, schema: StructType) -> "GeoNetReader":
        return GeoNetReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> "GeoNetStreamReader":
        return GeoNetStreamReader(self.options)


class GeoNetReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        self.base_url = options.get("url", DEFAULT_URL)
        self.min_mmi: int | None = None

    # --- filter pushdown (O9) ----------------------------------------
    def pushFilters(self, filters: Sequence[Filter]) -> Iterator[Filter]:
        """Fold an mmi lower-bound into the request URL (the GeoNet
        API's ?MMI= param means 'at least this intensity'); everything
        else — and the bound itself, defensively re-checked — is left
        to Spark. Matches task.ts:176 semantics."""
        for f in filters:
            if (
                isinstance(f, (GreaterThanOrEqual, EqualTo, GreaterThan))
                and f.attribute == ("properties", "mmi")
                and isinstance(f.value, int)
            ):
                bound = f.value + 1 if isinstance(f, GreaterThan) else f.value
                if -1 <= bound <= 8:
                    self.min_mmi = bound if self.min_mmi is None else max(self.min_mmi, bound)
            # always yield: Spark re-applies every filter (the API
            # bound is an optimization, not the correctness gate)
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        # one HTTP round-trip ≤100 features (reference envelope,
        # BASELINE.md) → a single partition is the honest plan; a
        # paginated API would map pages → partitions here.
        return [InputPartition(0)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if self.path:
            with open(self.path, "r", encoding="utf-8") as fh:
                body = json.load(fh)
        else:
            url = self.base_url
            if self.min_mmi is not None:
                url = f"{url}?MMI={self.min_mmi}"
            body = _fetch(url)

        # fixture replay must behave like the server-side filter
        # (O9 invariant: identical rows either way)
        yield from _parse_features(body, self.min_mmi)


def _fetch(url: str) -> dict:
    """GET ``url`` as JSON. A non-2xx status aborts the run
    (task.ts:179-181); ``urlopen`` raises ``HTTPError`` for it."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, headers={"accept": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        raise RuntimeError(f"Failed to fetch data: {e.code} {e.reason}") from e


def _parse_features(body: dict, min_mmi: int | None = None):
    """Shared GeoJSON→row projection for the batch and stream readers
    (one definition so the two paths cannot drift)."""
    for feature in body.get("features", []):
        props = feature.get("properties", {})
        geom = feature.get("geometry", {})
        mmi = props.get("mmi")
        if min_mmi is not None and isinstance(mmi, int) and mmi < min_mmi:
            continue
        yield (
            feature.get("type"),
            (
                props.get("publicID"),
                props.get("time"),
                props.get("depth"),
                props.get("magnitude"),
                mmi,
                props.get("locality"),
                props.get("quality"),
            ),
            (geom.get("type"), geom.get("coordinates")),
        )


class GeoNetStreamReader(SimpleDataSourceStreamReader):
    """Schedule-tick streaming source (reference O28,
    task.ts:142-143): every micro-batch is one poll.

    Offsets are ``{"tick": n}``. Fixture mode (``path`` = a directory
    of snapshot ``*.json`` files, lexicographic order): tick n reads
    snapshot file n, the offset stops advancing when snapshots run
    out, and ``readBetweenOffsets`` re-reads the same files — exact
    replay, so checkpoint recovery is deterministic (the property the
    reference's restart-the-world loop gets for free and a real
    stream must earn). Live mode: every tick is one GET of the
    endpoint; replay between offsets re-polls (documented
    best-effort — the API is the reference's source of truth and
    keeps no history, task.ts:176-181)."""

    def __init__(self, options: dict) -> None:
        self.dir = options.get("path")
        self.base_url = options.get("url", DEFAULT_URL)
        self._snapshots: list[str] | None = None
        if self.dir:
            import glob as _glob
            import os as _os

            self._snapshots = sorted(
                _glob.glob(_os.path.join(self.dir, "*.json"))
            )

    def initialOffset(self) -> dict:
        return {"tick": 0}

    def _rows_for_tick(self, tick: int) -> list[tuple]:
        if self._snapshots is not None:
            if tick >= len(self._snapshots):
                return []
            with open(self._snapshots[tick], "r", encoding="utf-8") as fh:
                body = json.load(fh)
        else:
            body = _fetch(self.base_url)
        return list(_parse_features(body))

    def read(self, start: dict):
        tick = start["tick"]
        if self._snapshots is not None and tick >= len(self._snapshots):
            return iter([]), start  # drained: offset stops advancing
        return iter(self._rows_for_tick(tick)), {"tick": tick + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows: list[tuple] = []
        for tick in range(start["tick"], end["tick"]):
            rows.extend(self._rows_for_tick(tick))
        return iter(rows)


def register(spark) -> None:
    spark.dataSource.register(GeoNetDataSource)
