"""Seeded benchmark inputs and their DuckDB oracle counts.

A seed picks a contiguous ``event_id`` range. The transcript rows for the
range are derived by ``transcripts_sql_duckdb``, the DuckDB twin of
``transcripts_spark`` in ``rsyslog_spark.sources.transcripts`` (one SQL
body, two dialects, the same rows; the smoke test checks that they agree),
and stored as parquet: that stored table is all the measured program
receives. DuckDB makes a seed's rows in well under a second, where a Spark
job would add seconds to every run that meets a new seed.

The expected per-sink counts come from ``__spark_entry__.oracle_sql()
["route_sink_counts"]`` over the same ``event_id`` range. That oracle
derives the parse result in closed form from the id, so it never sees the
text Spark parses. Inputs are cached under the work directory, keyed by
workload, first id and size.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from dataclasses import dataclass

# rows per unit, and the files they are stored in (one per micro-batch
# for the stream; one per core otherwise, so the scan has four tasks)
SIZES = {
    "bulk_counts": (150_000, 4),
    "job_write": (160_000, 4),
    "stream_microbatch": (4_000, 4),
}
WARMUP = (2_000, 1)
# msgnum is lpad(i, 8): keep every id below 10^8 so no digit is cut
_ID_SPACE = 90_000_000


@dataclass(frozen=True)
class Input:
    path: str  # stored transcript parquet (a directory)
    rows: int
    files: int
    first_id: int
    expected: dict[str, int]  # sink -> row count, from the oracle


def id_range(workload: str, seed: int, rows: int) -> int:
    """First event id of the seed's range."""
    return random.Random(f"{workload}:{seed}").randrange(0, _ID_SPACE - rows)


def _generate(dest: str, first_id: int, rows: int, files: int) -> None:
    import duckdb

    import __spark_entry__
    from rsyslog_spark.sources.transcripts import transcripts_sql_duckdb

    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "transcripts"))
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT range AS event_id "
            f"FROM range({first_id}, {first_id + rows})")
        con.execute(
            "CREATE TABLE t AS SELECT conv_id, turn_idx, role, text, tool, "
            "ts::TIMESTAMPTZ AS ts, i FROM ("
            f"{transcripts_sql_duckdb(None, relation='events')})")
        step = -(-rows // files)
        for f in range(files):
            lo = first_id + f * step
            con.execute(
                f"COPY (SELECT * FROM t WHERE i >= {lo} AND i < {lo + step} "
                f"ORDER BY i) TO '{tmp}/transcripts/part-{f:03d}.parquet' "
                "(FORMAT PARQUET)")
        sql = __spark_entry__.oracle_sql()["route_sink_counts"]
        expected = {s: int(n) for s, n in con.execute(sql).fetchall()}
    finally:
        con.close()
    meta = {"rows": rows, "files": files, "first_id": first_id,
            "expected": expected}
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def ensure(cache_dir: str, name: str, first_id: int, rows: int,
           files: int) -> Input:
    """Return the cached input, generating it first if it is missing."""
    dest = os.path.join(cache_dir, f"{name}-{first_id}-{rows}-{files}")
    if not os.path.exists(os.path.join(dest, "meta.json")):
        _generate(dest, first_id, rows, files)
    with open(os.path.join(dest, "meta.json")) as fh:
        meta = json.load(fh)
    return Input(os.path.join(dest, "transcripts"), meta["rows"],
                 meta["files"], meta["first_id"], meta["expected"])


def for_workload(cache_dir: str, workload: str, seed: int) -> Input:
    rows, files = SIZES[workload]
    return ensure(cache_dir, workload, id_range(workload, seed, rows),
                  rows, files)


def warmup(cache_dir: str) -> Input:
    """Fixed small input for the set-up warm-up job (seed independent)."""
    return ensure(cache_dir, "warmup", 0, *WARMUP)
