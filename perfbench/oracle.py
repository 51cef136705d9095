"""Independent reference for the dirty full-validation workload.

DuckDB reads the same input parquet the engine validates and counts, per
``constraint_id``, the violations the engine must emit for the benchmark's
suite and aggregate checks. The drift family's PSI/KS statistics are
recomputed here in plain Python from DuckDB histograms of the input and of
the baseline parquet, following the documented bucket math (fixed edges,
under/overflow buckets, probabilities clamped at 1e-6 and renormalised).
Nothing here imports the engine.
"""

from __future__ import annotations

import math

import duckdb

EPS = 1e-6


def _sql_list(values) -> str:
    return "(" + ", ".join("'%s'" % v.replace("'", "''") for v in values) + ")"


def row_counts(con, table: str, sources, vocab: int, id_regex: str) -> dict:
    """Row-level suite (the flagship sequences suite) plus uniqueness and
    the referential check, as per-constraint counts. Null values skip every
    check except ``required``; array items violate once per element."""
    src = _sql_list(sources)
    q = f"""
    SELECT
      count(*) FILTER (WHERE doc_id IS NULL)
        + count(*) FILTER (WHERE n_tok IS NULL)
        + count(*) FILTER (WHERE source IS NULL)                   AS required,
      count(*) FILTER (WHERE doc_id IS NOT NULL
                        AND NOT regexp_matches(doc_id, '{id_regex}')) AS pattern,
      count(*) FILTER (WHERE n_tok < 1)                            AS minimum,
      count(*) FILTER (WHERE n_tok > 2048)                         AS maximum,
      count(*) FILTER (WHERE source NOT IN {src})                  AS enum,
      count(*) FILTER (WHERE len(tokens) < 1)                      AS "minItems",
      count(*) FILTER (WHERE len(tokens) > 2048)                   AS "maxItems",
      coalesce(sum(len(list_filter(tokens, x -> x < 0))), 0)       AS "items.minimum",
      coalesce(sum(len(list_filter(tokens, x -> x > {vocab - 1}))), 0)
                                                                   AS "items.maximum",
      count(*) FILTER (WHERE NOT coalesce(len(tokens) = n_tok, false))
                                                                   AS "custom.size_eq_n_tok",
      count(*) FILTER (WHERE source NOT IN {src})                  AS "ref.source"
    FROM {table}
    """
    cur = con.execute(q)
    names = [d[0] for d in cur.description]
    out = dict(zip(names, (int(v) for v in cur.fetchone())))
    out["unique.doc_id"] = int(con.execute(f"""
        SELECT coalesce(sum(c - 1), 0) FROM (
          SELECT count(*) AS c FROM {table} WHERE doc_id IS NOT NULL
          GROUP BY doc_id HAVING count(*) > 1)""").fetchone()[0])
    return out


def null_rate_groups(con, table: str, column: str, by: str,
                     max_rate: float) -> int:
    return int(con.execute(f"""
        SELECT count(*) FROM (
          SELECT avg(CASE WHEN {column} IS NULL THEN 1.0 ELSE 0.0 END) AS r
          FROM {table} GROUP BY {by}) WHERE r > {max_rate}""").fetchone()[0])


def histogram(con, table: str, column: str, by: str, edges) -> dict:
    """{group: {bucket: count}}; bucket i covers [edges[i], edges[i+1]),
    -1 is underflow and len(edges)-1 overflow."""
    n = len(edges) - 1
    case = f"CASE WHEN {column} < {edges[0]} THEN -1 "
    case += " ".join(f"WHEN {column} < {edges[i + 1]} THEN {i}" for i in range(n))
    case += f" ELSE {n} END"
    rows = con.execute(f"""
        SELECT {by}, {case} AS b, count(*) FROM {table}
        WHERE {column} IS NOT NULL GROUP BY 1, 2""").fetchall()
    out: dict = {}
    for g, b, c in rows:
        out.setdefault(g, {})[b] = c
    return out


def _probs(counts: dict, n: int) -> list[float]:
    total = sum(counts.values()) or 1
    p = [max(counts.get(b, 0) / total, EPS) for b in range(-1, n + 1)]
    s = sum(p)
    return [x / s for x in p]


def drift_stats(base: dict, cur: dict, n: int) -> dict:
    """{group: (psi, ks)} over the union of groups."""
    out = {}
    for g in set(base) | set(cur):
        p, q = _probs(base.get(g, {}), n), _probs(cur.get(g, {}), n)
        psi = sum((qi - pi) * math.log(qi / pi) for pi, qi in zip(p, q))
        cp = cq = ks = 0.0
        for pi, qi in zip(p, q):
            cp, cq = cp + pi, cq + qi
            ks = max(ks, abs(cp - cq))
        out[g] = (psi, ks)
    return out


def expected_counts(input_path: str, baseline_path: str, *, sources, vocab,
                    id_regex, null_col, null_by, null_max, drift_col,
                    edges, psi_max, ks_max) -> dict:
    """Per-constraint_id violation counts for one dirty input; zero
    counts are dropped, matching a count over the engine's output."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{input_path}/*.parquet')")
        con.execute(f"CREATE VIEW b AS SELECT * FROM read_parquet('{baseline_path}/*.parquet')")
        out = row_counts(con, "t", sources, vocab, id_regex)
        out["stats.null_rate"] = null_rate_groups(con, "t", null_col, null_by,
                                                  null_max)
        n = len(edges) - 1
        stats = drift_stats(histogram(con, "b", drift_col, null_by, edges),
                            histogram(con, "t", drift_col, null_by, edges), n)
        out[f"drift.psi.{drift_col}"] = sum(psi > psi_max for psi, _ in stats.values())
        out[f"drift.ks.{drift_col}"] = sum(ks > ks_max for _, ks in stats.values())
    finally:
        con.close()
    return {k: v for k, v in out.items() if v}
