"""Python UDTFs — the table-function surface (SURVEY §2.2 'UDF/UDAF/
UDTF'). The reference has nothing user-pluggable (task.ts is one
fused loop); the engine exposes all three Python extension points:
scalar pandas UDF (llm/similarity.py::_cell_scores, the IVF cell
scores), grouped-agg pandas UDF
(operators/relational.py::udaf_weighted_avg), applyInPandas /
mapInPandas (q74_grouped_zscore/q32_media_features), and these UDTFs.

UDTF classes must be self-contained (no module-global helper
references) so cloudpickle ships them whole to Python workers
regardless of worker cwd.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="pos int, bigram string")
class BigramsUDTF:
    """Emit (1-based position, 'tok_i tok_i+1') for every adjacent
    token pair of a space-separated string — a 1→N generator whose
    fan-out runs inside the executor, never on the driver."""

    def eval(self, text: str):  # noqa: D102 (UDTF contract)
        if text is None:
            return
        toks = text.split(" ")
        for i in range(len(toks) - 1):
            yield (i + 1, toks[i] + " " + toks[i + 1])
