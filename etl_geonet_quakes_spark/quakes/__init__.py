"""Reference-parity quake pipeline (source → transform → sink).

Maps /root/reference/task.ts one-to-one onto Spark:

- ``schema``    — explicit StructTypes for S2 (GeoNet input) and S4
  (CoT-ready output); the reference's compile-time-only interface
  (task.ts:64-79) becomes a runtime-enforced schema.
- ``timekit``   — NZ-local formatting kit (task.ts:81-138) as pure
  column expressions: tz conversion, DST-correct NZST/NZDT name,
  humanized "time ago".
- ``transform`` — the exploded/filtered/projected pipeline
  (task.ts:184-249) as ONE whole-stage-codegen'd projection.
- ``source``    — REST/fixture source with MMI predicate pushdown
  (task.ts:176), as a Python Data Source.
- ``sink``      — FeatureCollection envelope + upsert/expiry-by-
  omission contract (task.ts:195-203,251-256).
"""

import os

from etl_geonet_quakes_spark.quakes.schema import (  # noqa: F401
    GEONET_RESPONSE_SCHEMA,
    MMI_ICONS,
    MMI_INTENSITY,
)
from etl_geonet_quakes_spark.quakes.transform import (  # noqa: F401
    QuakeJobConfig,
    explode_features,
    transform_quakes,
)

# The repo's GeoNet fixture: the quake queries, their DuckDB oracles and
# the fixture-replay stream all read this one file.
GEONET_FIXTURE_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
    "geonet_quakes.json",
)
