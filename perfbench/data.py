"""Pinned transcripts tables and their exact answers.

A workload seed selects one of ``TABLES`` pinned tables (table seed =
seed mod TABLES). Each table is written by
``hyperloglog_spark.data.transcripts.write`` and cached under
``perfbench/.cache/tables/<table seed>/`` next to the exact answers that
DuckDB computes once over the same parquet files (``_oracle.json``,
``_latency_us.npy``; Spark skips files whose names start with ``_``). Before a run uses a table, its fingerprint (row count,
file count, exact distinct ``conv_id`` and ``text``) must equal the pinned
value in ``fingerprints.json``, so a change to the generator cannot
silently change the workload.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")
PINNED = os.path.join(HERE, "fingerprints.json")

N_TURNS = 1_000_000
N_CONVS = 25_000
N_FILES = 16
CHUNK_TURNS = 250_000    # four generator chunks -> four worker processes
GEN_WORKERS = 4
TABLES = 8
SLICE_DAY = "2024-01-10"   # one-day ts slice of the many-groups query
FINGERPRINT_KEYS = ("rows", "files", "distinct_conv_id", "distinct_text")


class FingerprintMismatch(RuntimeError):
    pass


def table_seed(seed: int) -> int:
    return seed % TABLES


def _params() -> dict:
    return {"n_turns": N_TURNS, "n_convs": N_CONVS, "n_files": N_FILES,
            "chunk_turns": CHUNK_TURNS}


def exact_answers(path: str) -> tuple[dict, np.ndarray]:
    """Exact answers for every check, computed by DuckDB over the parquet
    files: (oracle dict, per-turn latencies in microseconds, in
    conversation order)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        # spill files, if any, stay beside the table
        con.execute(f"SET temp_directory = '{path}/_duckdb_tmp'")
        src = f"read_parquet('{path}/*.parquet')"

        def rows(sql: str) -> list:
            return [list(r) for r in con.execute(sql).fetchall()]

        (n, convs, texts), = con.execute(
            f"SELECT count(*), count(DISTINCT conv_id), count(DISTINCT text) "
            f"FROM {src}").fetchall()
        files = len([f for f in os.listdir(path) if f.endswith(".parquet")])
        day = "CAST(CAST(ts AS DATE) AS VARCHAR)"
        oracle = {
            "params": _params(),
            "fingerprint": {"rows": n, "files": files,
                            "distinct_conv_id": convs,
                            "distinct_text": texts},
            "texts_by_role_tool": rows(
                f"SELECT role, tool, count(DISTINCT text) FROM {src} "
                f"GROUP BY ALL ORDER BY ALL"),
            "tool_counts": rows(
                f"SELECT tool, count(*) FROM {src} WHERE tool IS NOT NULL "
                f"GROUP BY ALL ORDER BY ALL"),
            "length_hist_by_role": rows(
                f"SELECT role, length(text), count(*) FROM {src} "
                f"GROUP BY ALL ORDER BY ALL"),
            "convs_by_role": rows(
                f"SELECT role, count(DISTINCT conv_id) FROM {src} "
                f"GROUP BY ALL ORDER BY ALL"),
            "convs_by_day": rows(
                f"SELECT {day}, count(DISTINCT conv_id) FROM {src} "
                f"GROUP BY ALL ORDER BY ALL"),
            "shard_groups": con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT {day}, role, tool "
                f"FROM {src})").fetchone()[0],
            "slice_texts_by_conv": rows(
                f"SELECT conv_id, count(DISTINCT text) FROM {src} "
                f"WHERE ts >= TIMESTAMP '{SLICE_DAY}' "
                f"AND ts < TIMESTAMP '{SLICE_DAY}' + INTERVAL 1 DAY "
                f"GROUP BY ALL ORDER BY ALL"),
        }
        lat = con.execute(
            f"SELECT epoch_us(ts) - epoch_us(lag(ts) OVER "
            f"(PARTITION BY conv_id ORDER BY turn_idx)) AS d FROM {src} "
            f"QUALIFY d IS NOT NULL").fetchnumpy()["d"]
    finally:
        con.close()
    return oracle, np.asarray(lat, dtype=np.int64)


def _generate(path: str, tseed: int) -> None:
    from hyperloglog_spark.data import transcripts

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    transcripts.write(tmp, N_TURNS, N_CONVS, seed=tseed, n_files=N_FILES,
                      chunk_turns=CHUNK_TURNS, parallel=GEN_WORKERS)
    oracle, lat = exact_answers(tmp)
    np.save(os.path.join(tmp, "_latency_us.npy"), lat)
    with open(os.path.join(tmp, "_oracle.json"), "w") as f:
        json.dump(oracle, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def pinned_fingerprints() -> dict:
    with open(PINNED) as f:
        return json.load(f)


def check_fingerprint(oracle: dict, path: str, tseed: int,
                      pinned: dict | None = None) -> None:
    """Raise FingerprintMismatch unless the table at ``path`` (files on
    disk, and the exact counts DuckDB took over them) matches the pinned
    fingerprint of ``tseed``."""
    import pyarrow.parquet as pq

    pinned = pinned_fingerprints() if pinned is None else pinned
    if pinned["params"] != oracle["params"]:
        raise FingerprintMismatch(
            f"table parameters {oracle['params']} differ from the pinned "
            f"{pinned['params']}")
    want = pinned["tables"].get(str(tseed))
    if want is None:
        raise FingerprintMismatch(f"no pinned fingerprint for table {tseed}")
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    on_disk = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                  for f in files)
    got = dict(oracle["fingerprint"])
    if (len(files), on_disk) != (got["files"], got["rows"]):
        raise FingerprintMismatch(
            f"{path}: {len(files)} files / {on_disk} rows on disk, oracle "
            f"says {got['files']} / {got['rows']}")
    if {k: got[k] for k in FINGERPRINT_KEYS} != want:
        raise FingerprintMismatch(
            f"table {tseed} fingerprint {got} differs from pinned {want}: "
            f"the generator changed; re-pin fingerprints.json in a "
            f"benchmark change")


def prepare(seed: int) -> tuple[str, dict, np.ndarray]:
    """Path, exact answers and latency array of the pinned table for
    ``seed``, generating and caching it on first use."""
    tseed = table_seed(seed)
    path = os.path.join(CACHE_DIR, "tables", str(tseed))
    if not os.path.exists(os.path.join(path, "_oracle.json")):
        _generate(path, tseed)
    with open(os.path.join(path, "_oracle.json")) as f:
        oracle = json.load(f)
    check_fingerprint(oracle, path, tseed)
    lat = np.load(os.path.join(path, "_latency_us.npy"))
    return path, oracle, lat


def pin() -> None:
    """Generate every pinned table and record its fingerprint."""
    tables = {}
    for tseed in range(TABLES):
        path = os.path.join(CACHE_DIR, "tables", str(tseed))
        if not os.path.exists(os.path.join(path, "_oracle.json")):
            _generate(path, tseed)
        with open(os.path.join(path, "_oracle.json")) as f:
            fp = json.load(f)["fingerprint"]
        tables[str(tseed)] = {k: fp[k] for k in FINGERPRINT_KEYS}
    with open(PINNED, "w") as f:
        json.dump({"params": _params(), "tables": tables}, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    # python3 -m perfbench.data: re-pin after a deliberate generator or
    # table-size change (a change to the benchmark, not to the library)
    pin()
