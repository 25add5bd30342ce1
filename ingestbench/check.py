"""Output check: compare a target run's Parquet output and bookmark with the
generator's sidecar, reading the Parquet files with DuckDB."""
import os
import re

import duckdb

from gen import CLOCK_COLUMNS, row_hash

# Default output naming puts each stream under `<stream>-<timestamp>.parquet/`.
_KEY = re.compile(r"^(?P<stream>.+)-\d{8}_\d{6}-\d{6}(\.[a-z0-9]+)?\.parquet$")


def parquet_files(out_dir):
    """{stream: [part files]} under a target output directory."""
    files = {}
    for top in sorted(os.listdir(out_dir)) if os.path.isdir(out_dir) else []:
        if top.startswith(("_", ".")):
            continue
        m = _KEY.match(top)
        stream = m.group("stream") if m else top
        for dirpath, dirnames, names in os.walk(os.path.join(out_dir, top)):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            files.setdefault(stream, []).extend(
                os.path.join(dirpath, n) for n in sorted(names)
                if n.endswith(".parquet") and not n.startswith(("_", ".")))
    return files


def read_rows(paths):
    """Yield flattened rows (dicts) of the given Parquet files."""
    con = duckdb.connect()
    try:
        rel = con.execute("SELECT * FROM read_parquet(?, union_by_name = true)", [paths])
        cols = [d[0] for d in rel.description]
        while True:
            chunk = rel.fetchmany(8192)
            if not chunk:
                break
            for t in chunk:
                yield dict(zip(cols, t))
    finally:
        con.close()


def summarize(out_dir, group_col=None):
    """Per-stream (or per-`group_col` value) rows and checksums, total Parquet
    bytes, and whether every clock-derived column is filled."""
    got, nbytes, clock_ok = {}, 0, True
    for stream, paths in parquet_files(out_dir).items():
        nbytes += sum(os.path.getsize(p) for p in paths)
        for row in read_rows(paths):
            key = row.get(group_col) if group_col else stream
            g = got.setdefault(key, {"rows": 0, "checksum": 0})
            g["rows"] += 1
            g["checksum"] = (g["checksum"] + row_hash(row)) % (1 << 64)
            clock_ok &= all(row[c] is not None for c in CLOCK_COLUMNS if c in row)
    return got, nbytes, clock_ok


def check_batch(out_dir, expected, bookmark):
    """(ok, reason, rows landed, parquet bytes) for one batch sync."""
    got, nbytes, clock_ok = summarize(out_dir)
    rows = sum(g["rows"] for g in got.values())
    want = {k: (v["rows"], int(v["checksum"], 16)) for k, v in expected["streams"].items()}
    have = {k: (v["rows"], v["checksum"]) for k, v in got.items()}
    if have != want:
        bad = sorted(k for k in set(want) | set(have) if want.get(k) != have.get(k))
        return False, "output mismatch on streams %s" % bad, rows, nbytes
    if not clock_ok:
        return False, "null metadata column", rows, nbytes
    if bookmark != expected["state"]:
        return False, "bookmark %r != expected %r" % (bookmark, expected["state"]), rows, nbytes
    return True, "", rows, nbytes
