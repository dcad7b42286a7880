"""Snapshot → rewrite → swap compaction shared by the persistent indexes
(``hamming_index``: flat bucketed parquet; ``ann_index``: ``list=`` dirs).

The rewrite reads exactly the snapshot's ``part-*`` files, never the
directory, and the swap deletes exactly them, so an append landing after
the snapshot is kept once: neither rewritten nor deleted. Hadoop
FileSystem API throughout (any scheme). The swap is delete-then-rename, not
atomic; on a metastore deployment it is the transactional rewrite-files
commit (Iceberg/Delta).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _part_files(fs, d) -> dict:
    """``{dir name relative to d ('' for d itself): [part-* files]}``, for
    ``d`` and its ``k=v`` dirs; dirs without part files are left out."""
    out: dict = {}
    for st in fs.listStatus(d) if fs.exists(d) else []:
        p = st.getPath()
        if st.isFile() and p.getName().startswith("part-"):
            out.setdefault("", []).append(p)
        elif st.isDirectory() and "=" in p.getName() and (sub := _part_files(fs, p).get("")):
            out[p.getName()] = sub
    return out


def compact(
    spark: SparkSession, path: str, rewrite: Callable[[DataFrame, str], None]
) -> dict:
    """Compact the index at ``path``: snapshot the ``part-*`` files of the
    root and each ``k=v`` dir; ``rewrite(df, staging)`` writes their rows
    (partition columns included) under ``staging``; then per dir delete
    the snapshot files and rename the staged ones in (a dir with no staged
    counterpart keeps its files). Refuses to start while staging holds part
    files (a run that died mid-swap left the only copy of rows there);
    deletes staging if the rewrite raises. Returns ``{files_before,
    files_after, rows}``, ``rows`` counting the snapshot."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = path.rstrip("/")
    staging = root + "__compacting"
    fs = hpath(root).getFileSystem(spark._jsc.hadoopConfiguration())
    if any(_part_files(fs, hpath(staging)).values()):
        raise ValueError(
            f"compaction staging dir {staging} still holds part files: an "
            "earlier compaction did not finish. If the index at "
            f"{root} still holds all its rows, delete {staging}; otherwise "
            "finish the swap by moving each staged part file into the same "
            "relative dir under the index, then delete the staging dir"
        )
    fs.delete(hpath(staging), True)
    snap = _part_files(fs, hpath(root))
    files = [str(f) for v in snap.values() for f in v]
    df = spark.read.option("basePath", root).parquet(*files)
    rows = df.count()
    try:
        rewrite(df, staging)
    except BaseException:
        fs.delete(hpath(staging), True)
        raise
    staged = _part_files(fs, hpath(staging))
    kept = sum(len(v) for rel, v in snap.items() if rel not in staged)
    for rel, news in staged.items():
        for f in snap.get(rel, []):
            fs.delete(f, False)
        for f in news:
            dest = hpath("/".join(filter(None, (root, rel, f.getName()))))
            if not fs.rename(f, dest):
                raise IOError(f"compaction swap failed renaming {f} -> {dest}")
    fs.delete(hpath(staging), True)
    n_after = kept + sum(len(v) for v in staged.values())
    return {"files_before": len(files), "files_after": n_after, "rows": rows}
