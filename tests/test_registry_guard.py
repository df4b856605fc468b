"""Registry-duplicate guard (round-11 verdict item 3): round 10
briefly carried seven duplicate SPECS entries, one of which silently
SHADOWED q221's implementation via a key collision (caught and removed
in-session, commit 07369df). This makes that incident class fail CI:

1. STATIC (ast): replay queries.py's module-level SPECS mutations in
   source order — the one dict literal, then every
   ``SPECS[<const>] = `` append — and assert no key is ever assigned
   twice (Python dicts and dict literals both shadow silently, so
   neither the runtime dict nor a set() check can see the overwrite).
   Any other whole-dict rebind of SPECS (a second literal, a renaming
   comprehension) fails as unrecognized.
2. STATIC: no other mutation mechanism exists (non-constant subscript
   keys, SPECS.update/setdefault, augmented assigns) — anything the
   replay in (1) cannot track is itself a failure.
3. RUNTIME: no two entries share the same Spark callable (a dupe
   entry that survives renaming still points at the same fn).
4. RUNTIME: normalized oracle-SQL text collisions must be exactly the
   pinned intentional set — streaming queries verified against their
   batch-equivalence oracle BY THEOREM (q38≡q151 incremental MinHash,
   q41≡q206 exact dedup, ...). A new accidental copy-paste of an
   existing oracle fails here.
5. RUNTIME (duckdb, sf0.001): full result-set fingerprint collisions
   (sorted columns + canonicalized sorted rows) must be exactly the
   pinned set — catches the subtler dupe whose SQL text was edited
   but whose results are byte-identical (the round-10 second-KS /
   second-Benford class). Measured 2026-08-15: the only collisions
   are the six intentional streaming/batch (or source/transform)
   pairs below.

Deliberately re-adding a duplicate (e.g. ``SPECS["q221_..."] = ``
a second time, or a re-worded copy of an existing oracle) fails
tests 1/4/5 respectively; verified by mutation when this landed.
"""

from __future__ import annotations

import ast
import collections
import hashlib
import os
import re

from etl_geonet_quakes_spark.queries import SPECS

_QUERIES_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "etl_geonet_quakes_spark",
    "queries.py",
)

# Oracle SQL shared verbatim between a batch query and the streaming
# (or source-tier) query whose output equals it by theorem — the
# equivalence IS the point of the streaming entry, so the shared
# text is intentional, not padding. Frozen: additions need a reason.
INTENTIONAL_SQL_SHARES = {
    frozenset({"q02_quake_pipeline", "q187_quake_stream_source"}),
    frozenset({"q04_stream_tumbling", "q81_time_window_tumbling"}),
    frozenset({"q06_stream_dedup", "q07_stream_dedup_watermark"}),
    frozenset({"q38_dedup_minhash_lsh", "q151_stream_dedup_minhash"}),
    frozenset({"q41_dedup_exact", "q206_stream_exact_dedup"}),
}

# Result-set fingerprint collisions at sf0.001: the five SQL shares
# above plus q08/q50 (streaming session windows vs the batch
# sessionization query — different SQL, same sessions by theorem).
INTENTIONAL_RESULT_SHARES = INTENTIONAL_SQL_SHARES | {
    frozenset({"q08_stream_sessions", "q50_sessionization"}),
}


def _module_statements():
    with open(_QUERIES_PY) as f:
        return ast.parse(f.read()).body


def test_specs_keys_assigned_exactly_once():
    """Replay every module-level SPECS mutation in source order; a
    key assigned while already live is the q221-shadowing bug."""
    stmts = _module_statements()
    live: set[str] = set()
    n_mutations = 0
    for node in stmts:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets = [node.target]  # SPECS: dict[...] = {...}
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id == "SPECS":
                n_mutations += 1
                if isinstance(node.value, ast.Dict) and n_mutations == 1:
                    keys = [k.value for k in node.value.keys]
                    assert all(isinstance(k, str) for k in keys)
                    dup = [k for k, c in collections.Counter(keys).items() if c > 1]
                    assert not dup, f"duplicate keys in SPECS dict literal: {dup}"
                    live = set(keys)
                else:
                    raise AssertionError(
                        f"unrecognized SPECS rebind at line {node.lineno}: "
                        "extend the guard before adding new mutation forms"
                    )
            elif (
                isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == "SPECS"
            ):
                n_mutations += 1
                assert isinstance(t.slice, ast.Constant) and isinstance(
                    t.slice.value, str
                ), f"non-constant SPECS key at line {node.lineno}"
                key = t.slice.value
                assert key not in live, (
                    f"SPECS[{key!r}] assigned twice (line {node.lineno}) — "
                    "this silently shadows the first implementation "
                    "(the round-10 q221 incident)"
                )
                live.add(key)
    assert live == set(SPECS), "static replay disagrees with runtime SPECS"
    assert n_mutations >= len(SPECS) // 2  # sanity: replay saw the registry


def test_no_untracked_specs_mutation_mechanisms():
    """The static replay above only sees Assign statements; forbid
    every mutation form it cannot track."""
    stmts = _module_statements()
    for node in ast.walk(ast.Module(body=stmts, type_ignores=[])):
        if isinstance(node, ast.AugAssign) or (
            # AnnAssign on the SPECS *name* is the tracked initial dict
            # literal; an annotated subscript write would be untracked
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Subscript)
        ):
            t = node.target
            hits_specs = (
                isinstance(t, ast.Name) and t.id == "SPECS"
            ) or (
                isinstance(t, ast.Subscript)
                and isinstance(t.value, ast.Name)
                and t.value.id == "SPECS"
            )
            assert not hits_specs, f"untracked SPECS mutation at line {node.lineno}"
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id == "SPECS"
                and node.func.attr in ("update", "setdefault", "pop", "__setitem__")
            ):
                raise AssertionError(
                    f"SPECS.{node.func.attr} at line {node.lineno}: "
                    "use a plain SPECS[key] = assignment so the guard sees it"
                )


def test_no_two_entries_share_a_spark_fn():
    by_fn = collections.defaultdict(list)
    for name, spec in SPECS.items():
        by_fn[spec.fn].append(name)
    shared = [v for v in by_fn.values() if len(v) > 1]
    assert not shared, f"entries sharing one Spark callable: {shared}"


def test_oracle_sql_text_collisions_are_pinned():
    by_sql = collections.defaultdict(list)
    for name, spec in SPECS.items():
        if spec.oracle:
            by_sql[re.sub(r"\s+", " ", spec.oracle).strip().lower()].append(name)
    got = {frozenset(v) for v in by_sql.values() if len(v) > 1}
    assert got == INTENTIONAL_SQL_SHARES, (
        "oracle SQL text collisions changed; new copy-paste dupes? "
        f"unexpected={got - INTENTIONAL_SQL_SHARES} "
        f"missing={INTENTIONAL_SQL_SHARES - got}"
    )


def test_oracle_result_fingerprint_collisions_are_pinned():
    """Full duckdb sweep at sf0.001 (~2 min): two entries whose
    oracle RESULTS are byte-identical but aren't a pinned
    streaming/batch pair are presumed duplicates."""
    import duckdb

    from etl_geonet_quakes_spark.io import TABLES

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    # Reuse the raw oracle results the parity run (same process,
    # earlier in file order) already produced for this sf — the sweep
    # used to re-execute all ~386 DuckDB oracles a second time
    # (~2 min of the suite); any entry not in the cache is computed
    # afresh, so running this file alone is unchanged byte-for-byte.
    from tests.test_oracle_parity import ORACLE_RESULT_CACHE

    by_fp = collections.defaultdict(list)
    for name, spec in SPECS.items():
        if not spec.oracle:
            continue
        cached = ORACLE_RESULT_CACHE.get((sf, name))
        if cached is None:
            res = con.sql(spec.oracle)
            raw_cols, rows = list(res.columns), res.fetchall()
        else:
            raw_cols, rows = cached
        cols = sorted(raw_cols)
        idx = [raw_cols.index(c) for c in cols]
        canon = sorted(repr(tuple(r[i] for i in idx)) for r in rows)
        h = hashlib.md5(
            ("|".join(cols) + "\n" + "\n".join(canon)).encode()
        ).hexdigest()
        by_fp[h].append(name)
    got = {frozenset(v) for v in by_fp.values() if len(v) > 1}
    assert got == INTENTIONAL_RESULT_SHARES, (
        "oracle result fingerprint collisions changed: "
        f"unexpected={got - INTENTIONAL_RESULT_SHARES} "
        f"missing={INTENTIONAL_RESULT_SHARES - got}"
    )


# ---------------------------------------------------------------------------
# Fence-class guard (round-12, verdict item 3): the q101/q279 sf1.0
# bug class was an UNROUNDED float-aggregate rank key under LIMIT —
# hash-agg combine order put identical profiles one ulp apart and
# shuffled the top-k fence (within one engine AND cross-engine). The
# round-11 clearance of the 13 other LIMIT-on-float queries was a
# manual audit (commit d8fb2bc); this encodes it as a standing static
# check so a future query cannot silently re-introduce the class.
#
# Rule: for every oracled query, each ORDER BY key adjacent to a
# LIMIT at the same paren depth is resolved through its `AS` alias
# chain (bounded recursion); a key whose resolved bundle contains an
# aggregate function AND float-typed content (float literal, DOUBLE/
# FLOAT cast, or a transcendental call — the libm-ulp hazard) must be
# ROUND-wrapped at the OUTERMOST level, else it is a violation.
# ROUND(x, 6) + eps does not count as wrapped. Verified classes from
# the round-11 manual audit come out clean by construction: COUNT/
# BIGINT/DECIMAL-exact aggregates have no float content (q170/q221/
# q245/q252/q272/q284), per-row expression keys have no aggregate
# (q100/q69), and the rounded keys are wrapped (q101/q164/q186/q209/
# q358/q366). Mutation-tested below on the three bug shapes.
# ---------------------------------------------------------------------------

_FENCE_KEYWORDS = {
    "select", "from", "where", "group", "by", "order", "limit", "having",
    "case", "when", "then", "else", "end", "and", "or", "not", "as", "on",
    "join", "inner", "left", "right", "full", "outer", "cross", "using",
    "with", "union", "all", "distinct", "over", "partition", "rows",
    "range", "between", "unbounded", "preceding", "following", "current",
    "row", "asc", "desc", "nulls", "first", "last", "in", "is", "null",
    "true", "false", "like", "exists", "interval", "double", "bigint",
    "decimal", "varchar", "integer", "int", "boolean", "date", "timestamp",
    "filter", "qualify",
}

_FENCE_AGG_RE = re.compile(
    r"\b(SUM|AVG|MAX|MIN|STDDEV|STDDEV_SAMP|STDDEV_POP|VAR_SAMP|VAR_POP|"
    r"CORR|COVAR_SAMP|COVAR_POP|PRODUCT|GEOMEAN|MEDIAN|QUANTILE_CONT|"
    r"QUANTILE_DISC|ARG_MAX|ARG_MIN|FIRST|LAST|ANY_VALUE)\s*\(",
    re.I,
)
_FENCE_FLOAT_RE = re.compile(
    r"(\b\d+\.\d+|\bAS\s+(DOUBLE|FLOAT|REAL)\b|::(DOUBLE|FLOAT|REAL)\b|"
    r"\b(LN|LOG|LOG2|LOG10|EXP|POWER|POW|SQRT|SIN|COS|ATAN2?)\s*\()",
    re.I,
)

# Queries allowed to carry an unrounded float-aggregate rank key
# under LIMIT, each with the reason the hazard does not apply.
# Empty today — additions need a written justification.
FENCE_ALLOWLIST: dict[str, str] = {}


def _fence_strip(sql: str) -> str:
    sql = re.sub(r"--[^\n]*", " ", sql)
    return re.sub(r"'(?:[^']|'')*'", "''", sql)


def _fence_depths(sql: str) -> list[int]:
    depth = 0
    out = []
    for c in sql:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        out.append(depth)
    return out


def _fence_rank_keys(sql: str) -> list[str]:
    """ORDER BY keys adjacent to each LIMIT at the same paren depth
    (window-internal ORDER BYs sit at a deeper depth and never pair
    with an outer LIMIT)."""
    sql = _fence_strip(sql)
    depths = _fence_depths(sql)
    obs = list(re.finditer(r"\bORDER\s+BY\b", sql, re.I))
    keys: list[str] = []
    for m in re.finditer(r"\bLIMIT\b", sql, re.I):
        d = depths[m.start()]
        best = None
        for ob in obs:
            if ob.end() <= m.start() and depths[ob.start()] == d:
                best = ob
        if best is None:
            continue
        segment = sql[best.end() : m.start()]
        depth = 0
        cur = ""
        parts = []
        for c in segment:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            if c == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += c
        parts.append(cur)
        for p in parts:
            k = re.sub(
                r"\s+(ASC|DESC|NULLS\s+FIRST|NULLS\s+LAST)\b", "",
                p.strip(), flags=re.I,
            ).strip()
            if k:
                keys.append(re.sub(r"\s+", " ", k))
    return keys


def _fence_alias_defs(sql_stripped: str, alias: str) -> list[str]:
    """Every '<expr> AS <alias>' definition, paren-balanced backward
    scan to the nearest top-level comma / open paren."""
    out = []
    for m in re.finditer(rf"\bAS\s+{re.escape(alias)}\b", sql_stripped, re.I):
        end = m.start()
        depth = 0
        j = end - 1
        start = 0
        while j >= 0:
            c = sql_stripped[j]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    start = j + 1
                    break
                depth -= 1
            elif c == "," and depth == 0:
                start = j + 1
                break
            j -= 1
        expr = sql_stripped[start:end].strip()
        expr = re.sub(r"^(SELECT|DISTINCT)\s+", "", expr, flags=re.I)
        out.append(re.sub(r"\s+", " ", expr))
    return out


def _fence_identifiers(expr: str) -> set[str]:
    ids = set()
    for m in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\b\s*(\()?", expr):
        if m.group(2):  # function call
            continue
        if m.group(1).lower() in _FENCE_KEYWORDS:
            continue
        ids.add(m.group(1))
    return ids


def _fence_expand(sql_stripped: str, expr: str, depth: int, seen: set) -> str:
    if depth <= 0:
        return expr
    bundle = [expr]
    for ident in _fence_identifiers(expr):
        low = ident.lower()
        if low in seen:
            continue
        seen.add(low)
        for d in _fence_alias_defs(sql_stripped, ident):
            bundle.append(_fence_expand(sql_stripped, d, depth - 1, seen))
    return " § ".join(bundle)


def _fence_round_wrapped(expr: str) -> bool:
    """True only when ROUND( opens the expression AND its matching
    close paren ends it — ROUND(x, 6) + eps is NOT wrapped."""
    m = re.match(r"^\s*ROUND\s*\(", expr, re.I)
    if not m:
        return False
    depth = 1
    for j in range(m.end(), len(expr)):
        c = expr[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return expr[j + 1 :].strip() == ""
    return False


def fence_violations(sql: str) -> list[str]:
    """q101/q279-class hazards in one oracle SQL text."""
    stripped = _fence_strip(sql)
    out = []
    for key in _fence_rank_keys(sql):
        if re.fullmatch(
            r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", key
        ):
            defs = _fence_alias_defs(stripped, key.rsplit(".", 1)[-1])
        else:
            defs = [key]
        for d in defs:
            if _fence_round_wrapped(d):
                continue
            bundle = _fence_expand(stripped, d, 3, {key.lower()})
            if _FENCE_AGG_RE.search(bundle) and _FENCE_FLOAT_RE.search(bundle):
                out.append(f"{key} := {d[:120]}")
                break
    return out


def test_no_unrounded_float_agg_rank_key_under_limit():
    flagged = {}
    for name, spec in SPECS.items():
        if not spec.oracle or name in FENCE_ALLOWLIST:
            continue
        v = fence_violations(spec.oracle)
        if v:
            flagged[name] = v
    assert flagged == {}, (
        "unrounded float-aggregate rank key(s) under LIMIT — the "
        "q101/q279 sf1.0 fence bug class. ROUND the key (6dp) in both "
        f"engines or allowlist with a reason: {flagged}"
    )


def test_fence_guard_catches_derounded_q101():
    """Mutation 1: strip the ROUND from q101's pivot score."""
    q101 = SPECS["q101_bm25_topk"].oracle
    mutated = re.sub(r"round\(0\.0", "(0.0", q101, count=1)
    mutated = re.sub(r",\s*6\) AS score", ") AS score", mutated, count=1)
    assert mutated != q101 and "round(0.0" not in mutated
    assert fence_violations(mutated), "de-rounded q101 not flagged"
    assert not fence_violations(q101)


def test_fence_guard_catches_sum_over_rows_and_round_plus_eps():
    """Mutation 2: the ORIGINAL q101 bug shape (SUM over term rows).
    Mutation 3: ROUND(x, 6) + eps must not count as wrapped."""
    sum_over_rows = """
    WITH per_term AS (
      SELECT doc_id, ln(1.0 + x) * tf AS ts FROM t)
    SELECT doc_id, SUM(ts) AS score FROM per_term GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """
    assert fence_violations(sum_over_rows)
    round_plus_eps = """
    SELECT doc_id, ROUND(SUM(ts), 6) + 0.0000001 AS score
    FROM per_term GROUP BY doc_id ORDER BY score DESC LIMIT 10
    """
    assert fence_violations(round_plus_eps)
    # and the exact-aggregate classes stay clean
    count_key = """
    SELECT tok, COUNT(*) AS n FROM t GROUP BY tok
    ORDER BY n DESC, tok LIMIT 25
    """
    assert not fence_violations(count_key)
    decimal_key = """
    SELECT k, SUM(CAST(v AS DECIMAL(18,2))) AS rev_dec FROM t GROUP BY k
    ORDER BY rev_dec DESC, k LIMIT 10
    """
    assert not fence_violations(decimal_key)
