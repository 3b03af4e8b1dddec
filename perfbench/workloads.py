"""Workload definitions and the oracle checks for their requests.

A workload is a list of request keys. A run plays them as a closed loop
with one client: each round is every key once, in an order drawn from
the run's seed. ``run_report`` is the reference's own request
(``runner.run_report`` over the seeded market-data CSV); every other
key is a registry query, ``QUERIES[key].fn(spark, sf_dir)``.
"""

from __future__ import annotations

import csv
import math
import random

REPORT = "run_report"

WORKLOADS: dict[str, list[str]] = {
    # The reference's own request (CSV inference, filter, lag, avg,
    # single-file CSV writes), a financial rollup over a parquet scan,
    # and a stream drain with checkpoints. Planning, job/stage
    # scheduling, scans and writes dominate; the operators do little
    # (rollup_ts).
    "fin_report": [
        REPORT,
        "rollup_timeseries",
        "stream_dedup_exactly_once",
    ],
    # The operators layer does most of the work: LSH candidate-pair
    # shuffles over a persisted frame, Arrow matmul kernels, text
    # tokenizing and TF-IDF shuffles. Nothing is written.
    "llm_ops": [
        "dedup_embedding_cosine",
        "sim_cosine_topk_vectorized",
        "text_tfidf",
    ],
}

#: Untimed rounds an untraced run plays after the warm pass, before
#: timing. Latencies keep falling for the first rounds after the cold
#: pass while the JIT compiles: on a 4-core host, after one such round
#: the next still ran up to 1.3 times the run's median.
SETTLE_ROUNDS = 2
#: Rounds every untraced run times at least, however short --seconds.
#: Each workload has an odd number of keys, so the median request falls
#: among the middle key's latencies instead of between two keys'.
MIN_ROUNDS = 3
#: Rounds a run's schedule holds, the warm pass included. The report
#: oracle is computed for every report request of the schedule before
#: timing starts; a run that uses up the schedule stops there.
MAX_ROUNDS = 40


class Request:
    __slots__ = ("rid", "key", "date_range")

    def __init__(self, rid: str, key: str, date_range=None):
        self.rid, self.key, self.date_range = rid, key, date_range


def schedule(keys: list[str], seed: int, n_dates: int) -> list[list[Request]]:
    """``MAX_ROUNDS`` rounds of requests; each round holds every key
    once, in seeded order. Report requests get a seeded date range of
    at least 250 trading days (index bounds into the CSV's dates)."""
    rng = random.Random(seed)
    out = []
    i = 0
    while len(out) < MAX_ROUNDS:
        order = list(keys)
        rng.shuffle(order)
        batch = []
        for key in order:
            span = None
            if key == REPORT:
                lo = rng.randrange(0, n_dates - 250)
                hi = rng.randrange(lo + 249, n_dates)
                span = (lo, hi)
            batch.append(Request(f"r{i:05d}", key, span))
            i += 1
        out.append(batch)
    return out


# -- report oracle --------------------------------------------------------
def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def load_market(con, csv_path: str, assets: list[str]) -> None:
    """Load the market-data CSV into DuckDB table ``market``, once."""
    cols = ", ".join(["'Date': 'DATE'"] + [f"'{a}': 'DOUBLE'" for a in assets])
    con.execute(
        f"CREATE TABLE market AS SELECT * FROM "
        f"read_csv('{csv_path}', header = true, columns = {{{cols}}})"
    )


def report_oracle(con, assets: list[str], lo: str, hi: str):
    """DuckDB's version of the report over table ``market``: the same
    fillna(0), inclusive date filter, ``x / lag(x) - 1`` in percent
    with NULL on a zero or missing divisor, and NULL-skipping averages.
    Returns (daily rows, averages row)."""
    filled = ", ".join(f"coalesce({_q(a)}, 0.0) AS {_q(a)}" for a in assets)
    rets = ", ".join(
        f"CASE WHEN lag({_q(a)}) OVER w = 0 THEN NULL "
        f"ELSE ({_q(a)} / lag({_q(a)}) OVER w - 1) * 100 END AS {_q(a + '_Retorno')}"
        for a in assets
    )
    daily_sql = f"""
        WITH f AS (
            SELECT "Date", {filled} FROM market
            WHERE "Date" >= DATE '{lo}' AND "Date" <= DATE '{hi}'
        )
        SELECT "Date", {", ".join(_q(a) for a in assets)}, {rets}
        FROM f WINDOW w AS (ORDER BY "Date") ORDER BY "Date"
    """
    daily = con.execute(daily_sql).fetchall()
    avgs = ", ".join(f"avg({_q(a + '_Retorno')})" for a in assets)
    avg_row = con.execute(f"SELECT {avgs} FROM ({daily_sql})").fetchone()
    return daily, avg_row


def _cell(text: str):
    return None if text == "" else float(text)


def _close(got, want, rel: float) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return math.isclose(got, want, rel_tol=rel, abs_tol=rel)


def check_report(summary: dict, assets: list[str], daily, avg_row) -> str | None:
    """Compare the report's written CSVs and summary with the oracle.
    Returns None when they agree, else a one-line reason. Prices and
    returns go through CSV text, so they compare to 1e-12 relative;
    averages sum in a different order and compare to 1e-9."""
    header = ["Date", *assets, *[f"{a}_Retorno" for a in assets]]
    with open(summary["daily_returns_path"], newline="") as fh:
        rows = list(csv.reader(fh))
    if rows[0] != header:
        return f"daily_returns.csv header {rows[0][:3]}..."
    if len(rows) - 1 != len(daily) or summary["daily_returns_count"] != len(daily):
        return f"daily_returns rows {len(rows) - 1}, oracle {len(daily)}"
    for got, want in zip(rows[1:], daily):
        if got[0] != want[0].isoformat():
            return f"date {got[0]} != {want[0]}"
        for g, w in zip(got[1:], want[1:]):
            if not _close(_cell(g), w, 1e-12):
                return f"{got[0]}: {g!r} != {w!r}"
    with open(summary["average_daily_return_path"], newline="") as fh:
        avg_rows = list(csv.reader(fh))
    names = [f"Media_{a}_Retorno" for a in assets]
    if avg_rows[0] != names or len(avg_rows) != 2:
        return "average_daily_return.csv shape"
    for name, g, w in zip(names, avg_rows[1], avg_row):
        if not _close(_cell(g), w, 1e-9):
            return f"{name}: {g!r} != {w!r}"
        if not _close(summary["averages"].get(name), w, 1e-9):
            return f"summary {name} != {w!r}"
    return None
