"""Independent DuckDB references for the once-per-run output checks.

Each check reads the fixtures and the engine's output as parquet with
DuckDB, recomputes the expected result there (ASOF JOIN, window
functions, aggregates), and returns a list of problems (empty = pass).
Row-set comparisons use an order-insensitive checksum: the count and
the sum of DuckDB ``hash()`` over the same column list on both sides.
"""

from __future__ import annotations

import math
from typing import Dict, List


def scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _checksum(con, rel: str, cols: List[str]) -> tuple:
    return con.execute(f"SELECT count(*), sum(hash({', '.join(cols)})) FROM {rel}").fetchone()


def _close(a: float, b: float, rtol: float = 1e-9, atol: float = 0.0) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=atol)


def _vocab(con, rel: str, col: str) -> Dict[str, int]:
    """IndexLookup's vocabulary: count DESC, key ASC, indices from 2
    (0 and 1 are the padding and unknown slots)."""
    rows = con.execute(
        f"SELECT {col}, count(*) AS n FROM {rel} GROUP BY 1 ORDER BY n DESC, 1 ASC"
    ).fetchall()
    return {k: i + 2 for i, (k, _n) in enumerate(rows)}


def _check_moments(con, where: str, rel: str, col: str, op) -> List[str]:
    mean, std = con.execute(f"SELECT avg({col}), stddev_samp({col}) FROM {rel}").fetchone()
    if _close(op.mean, mean) and _close(op.std, std):
        return []
    return [f"{where}: StandardScore({col}) fitted ({op.mean}, {op.std}), expected ({mean}, {std})"]


def _check_digest(con, where: str, rel: str, col: str, op) -> List[str]:
    n, lo, hi = con.execute(f"SELECT count({col}), min({col}), max({col}) FROM {rel}").fetchone()
    d = op.get_state()["digest"]
    got = (sum(d["weights"]), d["mean_min"], d["mean_max"])
    if _close(got[0], n) and got[1] == lo and got[2] == hi:
        return []
    return [f"{where}: TDigest({col}) weight/min/max {got}, expected {(n, lo, hi)}"]


# ------------------------------------------------------------------ pit_build
_PIT_COLS = [
    "doc_id", "v0", "epoch_us(f0_matched_ts)", "v1", "epoch_us(f1_matched_ts)",
    "v2", "epoch_us(f2_matched_ts)", "CAST(n_tok_lag1 AS BIGINT)", "CAST(session_id AS BIGINT)",
]


def pit_reference(probe: str, feat: str, gap_s: float) -> str:
    """The FeatureStore flow in SQL: three as-of joins, lag, fill-forward
    of v0 and gap sessionization, per user ordered by (ts, doc_id)."""
    tables = ",\n".join(
        f"f{i} AS (SELECT user_id, feature_ts + INTERVAL {7 * i} SECOND AS ft, fval * {i + 1} AS v FROM {scan(feat)})"
        for i in range(3)
    )
    joins = "\n".join(
        f"ASOF LEFT JOIN f{i} ON p.user_id = f{i}.user_id AND p.ts >= f{i}.ft" for i in range(3)
    )
    return f"""(
        WITH {tables},
        j AS (SELECT p.doc_id, p.user_id, p.ts, p.n_tok,
                     f0.v AS v0, f0.ft AS f0_matched_ts, f1.v AS v1, f1.ft AS f1_matched_ts,
                     f2.v AS v2, f2.ft AS f2_matched_ts
              FROM {scan(probe)} p {joins}),
        w AS (SELECT *, lag(n_tok) OVER win AS n_tok_lag1, lag(ts) OVER win AS prev_ts,
                     last_value(v0 IGNORE NULLS) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0_ff
              FROM j WINDOW win AS (PARTITION BY user_id ORDER BY ts, doc_id))
        SELECT doc_id, v0_ff AS v0, f0_matched_ts, v1, f1_matched_ts, v2, f2_matched_ts, n_tok_lag1,
               sum(CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > {gap_s} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        FROM w)"""


def check_pit_build(con, probe, feat, out, n_probe, gap_s, ops) -> List[str]:
    problems = []
    got = _checksum(con, scan(out), _PIT_COLS)
    want = _checksum(con, pit_reference(probe, feat, gap_s), _PIT_COLS)
    if got[0] != n_probe:
        problems.append(f"pit_build: {got[0]} output rows, expected {n_probe}")
    if got != want:
        problems.append(f"pit_build: output checksum {got} != reference {want}")
    problems += _check_moments(con, "pit_build", scan(probe), "n_tok", ops["z"])
    problems += _check_digest(con, "pit_build", scan(probe), "n_tok", ops["q"])
    if ops["idx"].lookup != _vocab(con, scan(probe), "source"):
        problems.append("pit_build: IndexLookup(source) vocabulary differs from the reference")
    return problems


# ---------------------------------------------------------------- asof_skewed
_ASOF_COLS = ["doc_id", "fval", "epoch_us(matched_feature_ts)"]


def check_asof(con, probe, feat, outs: Dict[str, str], n_probe: int) -> List[str]:
    ref = f"""(SELECT p.doc_id, f.fval, f.feature_ts AS matched_feature_ts
              FROM {scan(probe)} p ASOF LEFT JOIN {scan(feat)} f
              ON p.user_id = f.user_id AND p.ts >= f.feature_ts)"""
    want = _checksum(con, ref, _ASOF_COLS)
    problems, sums = [], {}
    for kind, path in outs.items():
        sums[kind] = got = _checksum(con, scan(path), _ASOF_COLS)
        leaks = con.execute(
            f"SELECT count(*) FROM {scan(path)} WHERE matched_feature_ts > ts"
        ).fetchone()[0]
        if got[0] != n_probe:
            problems.append(f"asof_skewed/{kind}: {got[0]} rows, expected {n_probe}")
        if leaks:
            problems.append(f"asof_skewed/{kind}: {leaks} rows matched a future feature")
        if got != want:
            problems.append(f"asof_skewed/{kind}: checksum {got} != reference {want}")
    if len(set(sums.values())) > 1:
        problems.append(f"asof_skewed: the two paths disagree {sums}")
    return problems


# ---------------------------------------------------------------- corpus_prep
def check_corpus(con, corpus, evald, outs: Dict[str, str], gram_n: int, block: int) -> List[str]:
    problems = []
    total, n_docs = con.execute(f"SELECT sum(n_tok), count(*) FROM {scan(corpus)}").fetchone()
    packed = scan(outs["packed"])
    got_tok, n_blocks, bad_len, short = con.execute(
        f"""SELECT sum(n_tok), count(*), count(*) FILTER (WHERE len(tokens) <> n_tok),
                   count(*) FILTER (WHERE n_tok <> {block}
                                    AND block_id <> (SELECT max(block_id) FROM {packed}))
            FROM {packed}"""
    ).fetchone()
    if got_tok != total:
        problems.append(f"corpus_prep: packing holds {got_tok} tokens, input has {total}")
    if n_blocks != -(-total // block) or bad_len or short:
        problems.append(
            f"corpus_prep: {n_blocks} blocks ({bad_len} with a wrong length, {short} short "
            f"before the last); expected {-(-total // block)}"
        )
    contam = scan(outs["contam"])
    n_marked, = con.execute(f"SELECT count(*) FROM {contam}").fetchone()
    missed, = con.execute(
        f"""SELECT count(*) FROM {scan(evald)} e JOIN {contam} c ON c.doc_id = e.doc_id
            WHERE e.n_tok >= {gram_n} AND NOT c.is_contaminated"""
    ).fetchone()
    if n_marked != n_docs or missed:
        problems.append(
            f"corpus_prep: decontamination marked {n_marked}/{n_docs} docs and missed "
            f"{missed} eval docs present in the corpus"
        )
    # planted duplicates 'dup-<id>' of documents long enough to sketch
    planted, found = con.execute(
        f"""WITH d AS (SELECT substr(doc_id, 5) AS orig FROM {scan(corpus)}
                       WHERE doc_id LIKE 'dup-%' AND n_tok >= 16),
                 r AS (SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
                       FROM {scan(outs['near_dup'])})
            SELECT count(*), count(r.a) FROM d LEFT JOIN r
            ON r.a = least(d.orig, 'dup-' || d.orig) AND r.b = greatest(d.orig, 'dup-' || d.orig)"""
    ).fetchone()
    if planted == 0 or found != planted:
        problems.append(f"corpus_prep: near_dup_report found {found} of {planted} planted duplicates")
    return problems


# -------------------------------------------------------------- fit_transform
def check_fit(con, docs, lines, doc_ops, line_ops) -> List[str]:
    d, li = scan(docs), scan(lines)
    where = "fit_transform"
    problems = _check_moments(con, where, d, "n_tok", doc_ops["n_tok_z"])
    problems += _check_digest(con, where, d, "n_tok", doc_ops["n_tok_q"])
    if doc_ops["source_idx"].lookup != _vocab(con, d, "source"):
        problems.append(f"{where}: IndexLookup(source) vocabulary differs from the reference")
    problems += _check_moments(con, where, li, "l_extendedprice", line_ops["price_z"])
    problems += _check_digest(con, where, li, "l_extendedprice", line_ops["price_q"])
    lo, hi, q1, q2, q3 = con.execute(
        f"""SELECT min(l_quantity), max(l_quantity), quantile_cont(l_extendedprice, 0.25),
                   quantile_cont(l_extendedprice, 0.5), quantile_cont(l_extendedprice, 0.75)
            FROM {li}"""
    ).fetchone()
    mm = line_ops["qty_mm"]
    if (mm.vmin, mm.vdelta) != (lo, hi - lo):
        problems.append(f"{where}: MinMaxScale fitted ({mm.vmin}, {mm.vdelta}), expected ({lo}, {hi - lo})")
    rs = line_ops["price_r"]
    # t-digest quantiles are approximate: within 1% of the IQR
    if not (_close(rs.median, q2, 0, 0.01 * (q3 - q1)) and _close(rs.iqr, q3 - q1, 0.02)):
        problems.append(f"{where}: RobustScale fitted ({rs.median}, {rs.iqr}), expected ({q2}, {q3 - q1})")
    if line_ops["flag_idx"].lookup != _vocab(con, li, "l_returnflag"):
        problems.append(f"{where}: IndexLookup(l_returnflag) vocabulary differs from the reference")
    counts = dict(con.execute(f"SELECT l_linestatus, count(*) FROM {li} GROUP BY 1").fetchall())
    if line_ops["status_cnt"].counts != counts:
        problems.append(f"{where}: CountLookup(l_linestatus) counts differ from the reference")
    modes = dict(con.execute(f"SELECT l_shipmode, count(*) FROM {li} GROUP BY 1").fetchall())
    total = sum(modes.values())
    ratios = line_ops["mode_ratio"].ratios
    if set(ratios) != set(modes) or any(not _close(ratios[k], v / total) for k, v in modes.items()):
        problems.append(f"{where}: RatioLookup(l_shipmode) ratios differ from the reference")
    return problems
