#!/usr/bin/env python3
"""Where a tick store's bytes go: B/row per column, each column's
encodings, and the share taken by footers.

Usage: python3 tools/tick_bytes.py <root>

<root> is any directory holding tick files: a TickStore root
(`symbol=/day=` leaves), an engine dtf folder or one `book=` dir
(`day=` leaves and legacy root files), or a `perfbench` run dir. Every
`*.parquet` file under it is read, as the bench's `bytes_per_event`
counts them: hidden files and directories whose names carry a dot
(compaction and migration staging) are skipped.

A column's bytes are its column chunks' compressed sizes, dictionary
pages included. "footers" is the rest of each file: the footer, its
length and the magic bytes. The metadata comes from the installed
duckdb's `parquet_metadata`.
"""
import os
import sys

import duckdb


def parquet_files(root):
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if "." not in x)
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(d, f)


def main(root):
    files = list(parquet_files(root))
    if not files:
        sys.exit(f"{root}: no parquet files")
    con = duckdb.connect()
    listing = "[" + ", ".join("'" + f.replace("'", "''") + "'"
                              for f in files) + "]"
    rows = con.execute(
        f"SELECT sum(num_rows) FROM parquet_file_metadata({listing})"
    ).fetchone()[0] or 0
    chunks = con.execute(
        "SELECT file_name, path_in_schema, total_compressed_size, encodings "
        f"FROM parquet_metadata({listing})").fetchall()
    total = sum(os.path.getsize(f) for f in files)
    per_col, encodings, in_chunks = {}, {}, 0
    for _, col, size, enc in chunks:
        per_col[col] = per_col.get(col, 0) + size
        encodings.setdefault(col, set()).update(
            e.strip() for e in (enc or "").split(",") if e.strip())
        in_chunks += size
    per_row = (lambda b: b / rows) if rows else (lambda b: float("nan"))
    print(f"{root}: {len(files)} files, {rows} rows, {total} B, "
          f"{per_row(total):.2f} B/row")
    print(f"{'column':<12}{'B/row':>8}{'share':>8}  encodings")
    for col, size in sorted(per_col.items(), key=lambda kv: -kv[1]):
        print(f"{col:<12}{per_row(size):>8.2f}{size / total:>8.1%}  "
              + ", ".join(sorted(encodings[col])))
    footers = total - in_chunks
    print(f"{'footers':<12}{per_row(footers):>8.2f}{footers / total:>8.1%}  "
          f"{footers / len(files):.0f} B/file")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
