"""Merge generated table directories into one parquet file per table.

Usage: python3 flatten.py <stage_dir> <out_dir> <table> [<table> ...]

Each <stage_dir>/<table>.parquet/ directory of part files becomes
<out_dir>/<table>.parquet, a single file with one row group, written
through a temporary name so a half-written table is never visible.
Timestamps are stored as INT64 microseconds (the generator's grain and
the encoding of the shipped test data) rather than Spark's INT96.
"""
import os
import sys

import pyarrow.parquet as pq


def main():
    stage, out, tables = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out, exist_ok=True)
    for t in tables:
        table = pq.read_table(os.path.join(stage, f"{t}.parquet"))
        tmp = os.path.join(out, f".{t}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows),
                       coerce_timestamps="us")
        os.replace(tmp, os.path.join(out, f"{t}.parquet"))


if __name__ == "__main__":
    main()
