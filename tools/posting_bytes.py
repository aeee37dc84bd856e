#!/usr/bin/env python3
"""Posting-list size breakdown of an index directory, without Spark.

Decodes every PostingCodec blob of the `index` and `segments` tables
(graft.core.PostingCodec wire format: unsigned LEB128 varints,
segment := entryCount block*, block := count lastDocDelta maxTf
payloadLen (docDelta tf)*) and prints, per table:

  - postings, blob bytes and bytes/posting;
  - how those bytes split into doc gaps, tf and block headers
    (the segment's entryCount varint is counted as header);
  - the table's parquet bytes on disk.

Usage: python3 tools/posting_bytes.py <indexDir>
"""
import os
import sys

import pyarrow.parquet as pq


def varint(buf, pos):
    """(value, next position) of the unsigned LEB128 varint at pos."""
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return result, pos


def split_blob(buf, acc):
    """Add one blob's per-field byte counts and postings to acc."""
    n, pos = varint(buf, 0)
    acc["header"] += pos
    seen = 0
    while seen < n:
        start = pos
        cnt, pos = varint(buf, pos)
        _, pos = varint(buf, pos)  # block's last-doc delta
        _, pos = varint(buf, pos)  # block max tf
        _, pos = varint(buf, pos)  # payload length
        acc["header"] += pos - start
        for _ in range(cnt):
            for field in ("gap", "tf"):
                start = pos
                _, pos = varint(buf, pos)
                acc[field] += pos - start
        seen += cnt
    assert pos == len(buf), f"blob has {len(buf) - pos} trailing bytes"
    acc["postings"] += n
    acc["bytes"] += len(buf)


def parquet_files(table_dir):
    for root, _, files in os.walk(table_dir):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(root, f)


def report(index_dir, table):
    table_dir = os.path.join(index_dir, table)
    files = list(parquet_files(table_dir))
    if not files:
        print(f"{table}: absent")
        return
    acc = dict(postings=0, bytes=0, gap=0, tf=0, header=0)
    disk = 0
    for f in files:
        disk += os.path.getsize(f)
        for blob in pq.ParquetFile(f).read(columns=["postings"]).column("postings").to_pylist():
            split_blob(blob, acc)
    n = max(acc["postings"], 1)
    print(f"{table}: {acc['postings']} postings, {acc['bytes']} blob bytes, "
          f"{acc['bytes'] / n:.2f} B/posting, {disk} parquet bytes on disk")
    for field in ("gap", "tf", "header"):
        print(f"  {field:<6} {acc[field] / n:6.2f} B/posting"
              f"  ({100.0 * acc[field] / max(acc['bytes'], 1):5.1f}%)")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    for table in ("index", "segments"):
        report(sys.argv[1], table)


if __name__ == "__main__":
    main()
