"""Measure the dedup ladder's scale curve across fixture scales.

Runs q38 (MinHash-LSH), q39 (SimHash), q45 (connected components),
q180 (containment join) at sf0.001 / sf0.01 / sf0.1 and records wall
time plus CANDIDATE-pair counts for the two prefix/banded generators
(q38's band-bucket pairs, q180's containment candidates) — the
quantity whose growth decides whether the 100× claims hold: a banded/
blocked join is scale-safe iff candidates grow ~linearly with true
pair structure, not quadratically with corpus size.

Usage: python tools/scale_curve.py  → markdown table on stdout
(paste into SCALE.md) + one JSON line.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from etl_geonet_quakes_spark.io import load_table  # noqa: E402
from etl_geonet_quakes_spark.llm import dedup  # noqa: E402
from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402
from etl_geonet_quakes_spark.session import get_spark  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]
QUERIES = ["q38_dedup_minhash_lsh", "q39_dedup_simhash",
           "q45_dedup_clusters", "q180_dedup_containment"]


def minhash_candidates(spark, sf_dir) -> int:
    """Distinct band-bucket candidate pairs (a<b) — q38's stage-4
    output before the exact-Jaccard verify tier."""
    b = dedup.band_buckets(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return dedup._band_pairs(b).distinct().count()


def main() -> None:
    spark = get_spark("scale-curve")
    rows = []
    for sf_dir in SFS:
        sf = sf_dir.rsplit("sf", 1)[1]
        n_docs = load_table(spark, sf_dir, "documents").count()
        rec = {"sf": sf, "n_docs": n_docs}
        for qname in QUERIES:
            t0 = time.monotonic()
            n_out = SPECS[qname].fn(spark, sf_dir).count()
            rec[qname] = {"sec": round(time.monotonic() - t0, 2),
                          "rows": n_out}
        rec["cand_minhash"] = minhash_candidates(spark, sf_dir)
        # k=1 = theorem-minimal prefix (the round-7 curve); default
        # k = PREFIX_MIN_MATCHES = the round-8 extended-prefix
        # match-count filter (exact-complete, see dedup.py)
        rec["cand_containment_k1"] = dedup.containment_candidates(
            spark, sf_dir, min_matches=1
        ).count()
        rec["cand_containment"] = dedup.containment_candidates(
            spark, sf_dir
        ).count()
        # graph-suite join/shuffle volumes (round-9, verdict item 4):
        # edge counts + per-round row volumes for q115/q122/q222/q244/
        # q285 — the graph family's equivalent of the candidate pins
        rec["graph"] = dedup.graph_volume_metrics(spark, sf_dir)
        rows.append(rec)

    print("| sf | docs | q38 s | q38 rows | q38 cand | q39 s | q45 s "
          "| q180 s | q180 rows | q180 cand k1 | q180 cand |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['sf']} | {r['n_docs']} "
            f"| {r['q38_dedup_minhash_lsh']['sec']} "
            f"| {r['q38_dedup_minhash_lsh']['rows']} "
            f"| {r['cand_minhash']} "
            f"| {r['q39_dedup_simhash']['sec']} "
            f"| {r['q45_dedup_clusters']['sec']} "
            f"| {r['q180_dedup_containment']['sec']} "
            f"| {r['q180_dedup_containment']['rows']} "
            f"| {r['cand_containment_k1']} "
            f"| {r['cand_containment']} |"
        )
    print("\n| sf | pairs | verts | pr round rows | tri wedges "
          "| linkpred wedges | lp r1/r2 | kcore r1..r4 |")
    print("|---|---|---|---|---|---|---|---|")
    for r in rows:
        g = r["graph"]
        print(
            f"| {r['sf']} | {g['n_pairs']} | {g['n_vertices']} "
            f"| {g['pagerank_round_rows']} | {g['tri_wedge_rows']} "
            f"| {g['linkpred_wedge_rows']} "
            f"| {g['labelprop_labeled_r1']}/{g['labelprop_labeled_r2']} "
            f"| {g['kcore_removed_r1']}/{g['kcore_removed_r2']}"
            f"/{g['kcore_removed_r3']}/{g['kcore_removed_r4']} |"
        )
        # the orientation's safety certificate: oriented wedges must
        # stay under the Chiba–Nishizeki E^1.5 bound
        bound = (2 * g["n_pairs"]) ** 1.5
        if g["tri_wedge_rows"] > bound:
            print(f"  <-- ORIENTATION BROKEN: wedges {g['tri_wedge_rows']} "
                  f"> E^1.5 = {bound:.0f}")
    # growth factors between adjacent scales
    for lo, hi in zip(rows, rows[1:]):
        dr = hi["n_docs"] / lo["n_docs"]
        cm = hi["cand_minhash"] / max(lo["cand_minhash"], 1)
        cc = hi["cand_containment"] / max(lo["cand_containment"], 1)
        flag_m = "  <-- SUPERLINEAR" if cm > dr * 1.5 else ""
        flag_c = "  <-- SUPERLINEAR" if cc > dr * 1.5 else ""
        print(f"sf{lo['sf']}→sf{hi['sf']}: docs ×{dr:.1f}, "
              f"minhash cand ×{cm:.1f}{flag_m}, "
              f"containment cand ×{cc:.1f}{flag_c}")
    print(json.dumps({"scale_curve": rows}))


if __name__ == "__main__":
    main()
