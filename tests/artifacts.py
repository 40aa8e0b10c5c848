"""Artifact identity for index directories.

Two indexes are the same artifact when every partition directory of their
parquet datasets (``data/segment=K/bucket=B``, ``sites/segment=K``) holds
the same files: the same data-page bytes (everything between the leading
magic and the footer) and the same footer.  File names are not compared
(the writer names files by job), and each column chunk's encoding list is
compared sorted, because the writer records that set in no fixed order.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq


def _footer(path: str) -> tuple:
    md = pq.ParquetFile(path).metadata
    meta = md.to_dict()
    for rg in meta["row_groups"]:
        for col in rg["columns"]:
            col["encodings"] = tuple(sorted(col["encodings"]))
    return repr(meta), sorted((md.metadata or {}).items())


def parquet_files(root: str) -> dict[str, list[tuple]]:
    """Partition directory (relative to ``root``) -> its parquet files as
    sorted ``(data-page bytes, footer)`` pairs."""
    out: dict[str, list[tuple]] = {}
    for f in sorted(glob.glob(f"{root}/**/*.parquet", recursive=True)):
        with open(f, "rb") as fh:
            raw = fh.read()
        footer_len = int.from_bytes(raw[-8:-4], "little")
        pages = raw[4:len(raw) - 8 - footer_len]
        key = os.path.relpath(os.path.dirname(f), root)
        out.setdefault(key, []).append((pages, _footer(f)))
    return {k: sorted(v) for k, v in out.items()}


def assert_same_artifact(a: str, b: str,
                         subdirs: tuple[str, ...] = ("data", "sites")) -> None:
    """Index dirs ``a`` and ``b`` hold byte-identical parquet files in
    every partition directory of ``subdirs``, and ``data/`` is not empty."""
    for sub in subdirs:
        fa, fb = parquet_files(f"{a}/{sub}"), parquet_files(f"{b}/{sub}")
        assert sorted(fa) == sorted(fb), sub
        for part in fa:
            assert fa[part] == fb[part], f"{sub}/{part}"
        if sub == "data":
            assert fa, "no data files"
