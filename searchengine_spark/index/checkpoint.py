"""Per-segment checkpoint manifests: resume + lineage (SURVEY.md §4 item 5).

The reference's crude analog is the site status machine
(SiteTable.status INDEXING/INDEXED/FAILED, model/Status.java:3-7, updated at
IndexingServiceImpl.java:134-141/:285-286); here each doc-range segment gets
a JSON manifest carrying counts and an order-independent input fingerprint,
and a resumed build skips segments whose manifest is 'done'.  Idempotence:
re-running a done segment would overwrite with byte-identical parquet
(deterministic doc_ids + deterministic encode), proven in tests/test_resume.py.
"""

from __future__ import annotations

import json
import os


def _manifest_path(out_dir: str, segment: int) -> str:
    return f"{out_dir}/manifests/segment={segment}.json"


def write_json_atomic(path: str, obj: dict, **dump_kw) -> None:
    """Publish ``obj`` as JSON at ``path`` atomically: dump to a sibling
    tmp file, then ``os.replace`` it over the target.  Readers ``json.load``
    these files unguarded, so a crash (or a failing dump) mid-write must
    leave the previous version in place, never a truncated file."""
    tmp = f"{path}.tmp"
    try:
        with open(tmp, "w") as fh:
            json.dump(obj, fh, **dump_kw)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    os.replace(tmp, path)


def write_manifest(out_dir: str, segment: int, stats: dict) -> None:
    os.makedirs(f"{out_dir}/manifests", exist_ok=True)
    write_json_atomic(_manifest_path(out_dir, segment), stats, indent=1,
                      sort_keys=True)


def read_manifest(out_dir: str, segment: int) -> dict | None:
    p = _manifest_path(out_dir, segment)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def all_manifests(out_dir: str) -> list[dict]:
    d = f"{out_dir}/manifests"
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(f"{d}/{name}") as fh:
                out.append(json.load(fh))
    return out
