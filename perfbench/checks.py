"""Output checks that do not trust the code under test.

Each check returns a list of problems; an empty list means the pass's
output is correct.  Expected values come from the oracle simulations in
``inputs`` and from a DuckDB twin of the ``table_append`` rule set.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter
from typing import Dict, List, Optional, Sequence

VIOLATION_COLS = ["rule_id", "key", "column", "diff_type", "invalid",
                  "expected", "deviation", "expected_num", "partition_id"]


def _norm(v):
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, int) and not isinstance(v, bool):
        return repr(float(v))
    return v


def digest_rows(rows: Sequence[Sequence]) -> Dict[str, str]:
    """Per-rule_id content hash of violation rows (order-free)."""
    by_rule: Dict[str, List[str]] = {}
    for r in rows:
        by_rule.setdefault(r[0], []).append(
            json.dumps([_norm(v) for v in r]))
    return {rid: hashlib.sha256("\n".join(sorted(v)).encode()).hexdigest()
            for rid, v in by_rule.items()}


# ---------------------------------------------------------- audio_suite


def check_suite(rows: Sequence[Sequence], expected: Sequence[Sequence]
                ) -> List[str]:
    got_n = Counter(r[0] for r in rows)
    exp_n = Counter(r[0] for r in expected)
    problems = []
    if got_n != exp_n:
        problems.append(f"violation counts per rule differ: got "
                        f"{dict(sorted(got_n.items()))}, expected "
                        f"{dict(sorted(exp_n.items()))}")
    got_h, exp_h = digest_rows(rows), digest_rows(expected)
    for rid in sorted(set(got_h) | set(exp_h)):
        if got_h.get(rid) != exp_h.get(rid):
            problems.append(f"violation content differs for {rid}")
    return problems


# --------------------------------------------------------- audio_curate


def check_prepare(sample_rows: Sequence[Sequence],
                  expected: Sequence[Sequence]) -> List[str]:
    """``sample_rows``: prepare output rows of the sampled clips with the
    chunk payload replaced by its sha256, as the replay reports it."""

    def key(r):
        return (r[0], -1 if r[2] is None else r[2])

    got = sorted((list(r) for r in sample_rows), key=key)
    exp = sorted((list(r) for r in expected), key=key)
    if len(got) != len(exp):
        return [f"prepare sample has {len(got)} chunk rows, replay "
                f"expects {len(exp)}"]
    for g, e in zip(got, exp):
        if [_norm(v) for v in g] != [_norm(v) for v in e]:
            return [f"prepare chunk differs from replay: got {g[:7]}, "
                    f"expected {e[:7]}"]
    return []


def check_card(card_rows: Sequence[Dict], n_clips: int,
               n_undecodable: int) -> List[str]:
    total = [r for r in card_rows if r["codec"] == "__all__"]
    if len(total) != 1:
        return ["dataset card has no single __all__ row"]
    t = total[0]
    problems = []
    if t["n_clips"] != n_clips:
        problems.append(f"card counts {t['n_clips']} clips, input has "
                        f"{n_clips}")
    if t["n_undecodable"] != n_undecodable:
        problems.append(f"card counts {t['n_undecodable']} undecodable "
                        f"clips, the oracle decode finds {n_undecodable}")
    per_codec = sum(r["n_clips"] for r in card_rows
                    if r["codec"] != "__all__")
    if per_codec != n_clips:
        problems.append("card codec rows do not sum to the total")
    return problems


# --------------------------------------------------------- table_append

MANDATORY_MAX_PRICE = 95800
QTY_RANGE = (1, 49)
TAX_RANGE = (0, 0.08)
RETURN_FLAGS = ("A", "N", "R")
SHIPINSTRUCT_RE = "^(DELIVER IN PERSON|COLLECT COD|NONE|TAKE BACK RETURN)$"
DRIFT_BASELINE = [901.0, 2000.0, 4000.0, 8000.0, 16000.0, 24000.0,
                  96000.0]
DRIFT_THRESHOLD = 0.2
OUTLIER_MULT = 1.0
PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
PROFILE_EDGES = {"l_extendedprice": [10000.0, 30000.0, 50000.0, 70000.0]}
TDIGEST_COLS = ["l_extendedprice"]

VERDICT_COLS = ["partition_id", "passed", "failed_mandatory", "n_rows",
                "n_violations", "n_missing", "n_extra", "n_invalid",
                "n_deviation"]


def _psi(cur, base, eps=1e-6):
    total = 0.0
    for p, q in zip(cur, base):
        p, q = max(p, eps), max(q, eps)
        total += (p - q) * math.log(p / q)
    return total


def _twin_call(con, src: str, parts: Sequence[int], orders: str):
    """Verdict rows one ``run_checkpointed`` call commits over ``parts``."""
    plist = ",".join(str(p) for p in parts)
    con.execute(f"CREATE OR REPLACE TEMP VIEW work AS SELECT * FROM {src} "
                f"WHERE part_id IN ({plist})")
    mand = dict(con.execute(
        f"SELECT part_id, count(*) FROM work WHERE l_extendedprice IS NULL "
        f"OR l_extendedprice < 0 OR l_extendedprice > {MANDATORY_MAX_PRICE} "
        f"GROUP BY 1").fetchall())
    failed = sorted(mand)
    keep = (f"WHERE part_id NOT IN ({','.join(str(p) for p in failed)})"
            if failed else "")
    con.execute(f"CREATE OR REPLACE TEMP VIEW gated AS SELECT * FROM work "
                f"{keep}")
    q1, q3 = con.execute(
        "SELECT quantile_cont(l_extendedprice::DOUBLE, 0.25), "
        "quantile_cont(l_extendedprice::DOUBLE, 0.75) FROM gated").fetchone()
    rows = {p: [0, 0, 0] for p in parts}  # n_rows, invalid, deviation
    for p, n in con.execute("SELECT part_id, count(*) FROM work "
                            "GROUP BY 1").fetchall():
        rows[p][0] = n
    for p, n in mand.items():
        rows[p][2] += n
    if q1 is not None:
        lo = q1 - OUTLIER_MULT * (q3 - q1)
        hi = q3 + OUTLIER_MULT * (q3 - q1)
        per_part = con.execute(
            f"SELECT part_id, "
            f"sum(CASE WHEN l_quantity < {QTY_RANGE[0]} OR l_quantity > "
            f"{QTY_RANGE[1]} THEN 1 ELSE 0 END) "
            f"+ sum(CASE WHEN l_tax < {TAX_RANGE[0]} OR l_tax > "
            f"{TAX_RANGE[1]} THEN 1 ELSE 0 END) "
            f"+ sum(CASE WHEN l_extendedprice::DOUBLE < {lo!r} OR "
            f"l_extendedprice::DOUBLE > {hi!r} THEN 1 ELSE 0 END), "
            f"sum(CASE WHEN l_returnflag NOT IN "
            f"{tuple(RETURN_FLAGS)!r} THEN 1 ELSE 0 END) "
            f"+ sum(CASE WHEN NOT regexp_matches(l_shipinstruct, "
            f"'{SHIPINSTRUCT_RE}') THEN 1 ELSE 0 END) "
            f"FROM gated GROUP BY 1").fetchall()
        for p, dev, inv in per_part:
            rows[p][1] += int(inv)
            rows[p][2] += int(dev)
    dups = con.execute(
        "SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) "
        "FROM gated").fetchone()[0]
    fk = con.execute(
        f"SELECT count(DISTINCT l_orderkey) FROM gated WHERE l_orderkey "
        f"NOT IN (SELECT o_orderkey FROM '{orders}')").fetchone()[0]
    edges = sorted(set(DRIFT_BASELINE[1:-1]))
    bucket = " + ".join(f"(l_extendedprice::DOUBLE > {e!r})::INT"
                        for e in edges)
    counts = dict(con.execute(
        f"SELECT {bucket} AS b, count(*) FROM gated WHERE l_extendedprice "
        f"IS NOT NULL GROUP BY 1").fetchall())
    n = sum(counts.values()) or 1
    cur = [counts.get(b, 0) / n for b in range(len(edges) + 1)]
    base = [1.0 / (len(DRIFT_BASELINE) - 1)] * (len(edges) + 1)
    psi = _psi(cur, base)
    drift = 1 if psi > DRIFT_THRESHOLD else 0
    out = []
    for p in parts:
        n_rows, inv, dev = rows[p]
        nv = inv + dev
        out.append([str(p), nv == 0, p in mand, n_rows, nv, 0, 0, inv, dev])
    g_extra = int(dups) + int(fk)
    if g_extra + drift:
        out.append(["__global__", False, False, 0, g_extra + drift, 0,
                    g_extra, 0, drift])
    return out, psi


def table_expected(lineitem_dir: str, orders: str, committed: List[int],
                   new: List[int]) -> Dict:
    """The DuckDB twin: final verdict table after commit + resume, and
    the merged profile of the whole table."""
    import duckdb

    src = f"read_parquet('{lineitem_dir}/*.parquet')"
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar=false")
        con.execute("SET threads=2")
        first, psi1 = _twin_call(con, src, committed, orders)
        second, psi2 = _twin_call(con, src, new, orders)
        profile = {}
        for c in PROFILE_COLS:
            r = con.execute(
                f"SELECT count(*), count({c}), min({c})::DOUBLE, "
                f"max({c})::DOUBLE, sum({c}::DOUBLE), count(DISTINCT {c}), "
                f"quantile_cont({c}::DOUBLE, 0.5) FROM {src}").fetchone()
            hist = None
            if c in PROFILE_EDGES:
                edges = PROFILE_EDGES[c]
                b = " + ".join(f"({c}::DOUBLE > {e!r})::INT" for e in edges)
                got = dict(con.execute(
                    f"SELECT {b}, count(*) FROM {src} WHERE {c} IS NOT NULL "
                    f"GROUP BY 1").fetchall())
                hist = [got.get(i, 0) for i in range(len(edges) + 1)]
            profile[c] = {"row_count": r[0], "non_null": r[1], "min_v": r[2],
                          "max_v": r[3], "sum_v": r[4], "distinct": r[5],
                          "median": r[6], "hist": hist}
        n_rows = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
    finally:
        con.close()
    return {"verdicts": first + second, "psi": [psi1, psi2],
            "profile": profile, "n_rows": n_rows}


def check_verdicts(rows: Sequence[Sequence], expected: Sequence[Sequence]
                   ) -> List[str]:
    def canon(r):
        return (str(r[0]), bool(r[1]), bool(r[2])) + tuple(
            int(x) for x in r[3:])

    got = Counter(canon(r) for r in rows)
    exp = Counter(canon(r) for r in expected)
    if got == exp:
        return []
    extra = sorted(got - exp)[:3]
    missing = sorted(exp - got)[:3]
    return [f"verdict rows differ from the DuckDB twin: unexpected "
            f"{extra}, missing {missing}"]


def check_resume(first, resume, noop, committed: List[int],
                 new: List[int]) -> List[str]:
    c = sorted(str(p) for p in committed)
    n = sorted(str(p) for p in new)
    problems = []
    if sorted(first.processed_partitions) != c:
        problems.append("first run did not process exactly the committed "
                        "half")
    if sorted(resume.skipped_partitions) != c or \
            sorted(resume.processed_partitions) != n:
        problems.append("resume did not skip the committed half and "
                        "process the rest")
    if noop.processed_partitions or \
            sorted(noop.skipped_partitions) != sorted(c + n):
        problems.append("no-op resume processed partitions")
    return problems


def _centroid_median(centroids) -> Optional[float]:
    """Median read off a centroid list by cumulative weight."""
    cs = sorted((c["mean"], c["weight"]) for c in centroids)
    total = sum(w for _, w in cs)
    acc = 0.0
    for m, w in cs:
        acc += w
        if acc >= total / 2:
            return m
    return None


def check_profile(merged: Sequence[Dict], expected: Dict,
                  median_tol: float = 0.02) -> List[str]:
    """Merged profile against the twin: exact counts, extremes, sums and
    histograms; HLL distinct within 3%; t-digest weight equal to the
    non-null count and its median within ``median_tol`` of the range."""
    problems = []
    by_col = {r["column_name"]: r for r in merged}
    if sorted(by_col) != sorted(expected):
        return [f"merged profile columns {sorted(by_col)} differ from "
                f"{sorted(expected)}"]
    for c, e in expected.items():
        g = by_col[c]
        for k in ("row_count", "non_null"):
            if g[k] != e[k]:
                problems.append(f"{c}.{k}: {g[k]} != {e[k]}")
        for k in ("min_v", "max_v"):
            if not math.isclose(g[k], e[k], rel_tol=1e-12):
                problems.append(f"{c}.{k}: {g[k]} != {e[k]}")
        if not math.isclose(g["sum_v"], e["sum_v"], rel_tol=1e-9):
            problems.append(f"{c}.sum_v: {g['sum_v']} != {e['sum_v']}")
        if abs(g["distinct_est"] - e["distinct"]) > 0.03 * e["distinct"] + 2:
            problems.append(f"{c}.distinct_est {g['distinct_est']} is not "
                            f"within 3% of {e['distinct']}")
        if e["hist"] is not None and list(g["hist"] or []) != e["hist"]:
            problems.append(f"{c}.hist {g['hist']} != {e['hist']}")
        if c in TDIGEST_COLS:
            td = g["tdigest"] or []
            weight = sum(x["weight"] for x in td)
            if not math.isclose(weight, e["non_null"], rel_tol=1e-6):
                problems.append(f"{c}.tdigest weight {weight} != "
                                f"{e['non_null']}")
            med = _centroid_median(td)
            if med is None or abs(med - e["median"]) > \
                    median_tol * (e["max_v"] - e["min_v"]):
                problems.append(f"{c}.tdigest median {med} is not near "
                                f"{e['median']}")
    return problems
