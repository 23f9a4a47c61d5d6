"""Where the bytes of a refresh (or index build) output directory go.

    python scripts/output_bytes.py OUT_DIR

Walks ``OUT_DIR`` as perfbench's ``dir_bytes`` does, without following
symlinks, and prints the bytes of each top-level output (directory or
file), split into parquet files and sidecars (``.crc``, ``_SUCCESS``
and any other non-parquet file). Then, from the parquet footers, each
output column's codec and its compressed and uncompressed bytes. The
compressed bytes are the column chunks' pages; a file's footer and
magic make up the rest of its size.
"""

from __future__ import annotations

import argparse
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def output_bytes(out_dir: str) -> dict:
    """``{"outputs": {name: {"parquet": bytes, "sidecars": bytes}},
    "sidecars": [relative path, ...], "columns": {(name, column):
    {"codecs": set, "compressed": bytes, "uncompressed": bytes}},
    "total": bytes}`` for the files under ``out_dir``."""
    outputs: dict[str, dict[str, int]] = defaultdict(lambda: {"parquet": 0, "sidecars": 0})
    columns: dict[tuple, dict] = defaultdict(lambda: {"codecs": set(), "compressed": 0, "uncompressed": 0})
    sidecars = []
    for dirpath, dirs, names in os.walk(out_dir):
        dirs.sort()
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, out_dir)
            top = rel.split(os.sep)[0]
            size = os.lstat(path).st_size
            if not name.endswith(".parquet"):
                outputs[top]["sidecars"] += size
                sidecars.append(rel)
                continue
            outputs[top]["parquet"] += size
            meta = pq.ParquetFile(path).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(meta.num_columns):
                    chunk = rg.column(c)
                    col = columns[(top, chunk.path_in_schema)]
                    col["codecs"].add(chunk.compression)
                    col["compressed"] += chunk.total_compressed_size
                    col["uncompressed"] += chunk.total_uncompressed_size
    total = sum(o["parquet"] + o["sidecars"] for o in outputs.values())
    return {"outputs": dict(outputs), "sidecars": sidecars, "columns": dict(columns), "total": total}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    args = ap.parse_args(argv)
    got = output_bytes(args.out_dir)

    print(f"{'output':<40} {'bytes':>12} {'parquet':>12} {'sidecars':>10}")
    for name, o in sorted(got["outputs"].items()):
        print(f"{name:<40} {o['parquet'] + o['sidecars']:>12} {o['parquet']:>12} {o['sidecars']:>10}")
    print(f"{'total':<40} {got['total']:>12}")

    print(f"\n{'output/column':<40} {'codec':<12} {'compressed':>12} {'uncompressed':>12} {'ratio':>6}")
    for (name, column), c in sorted(got["columns"].items()):
        ratio = c["uncompressed"] / c["compressed"] if c["compressed"] else 0.0
        codec = ",".join(sorted(c["codecs"]))
        print(f"{name + '/' + column:<40} {codec:<12} {c['compressed']:>12} {c['uncompressed']:>12} {ratio:>6.2f}")

    print("\nsidecars:")
    for rel in got["sidecars"]:
        print(f"  {rel}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
