"""The shipped ``--py-files`` zip is what ``scripts/package.sh`` writes from
the current sources: exactly ``searchengine_spark/**/*.py``, byte for byte
(rerun ``sh scripts/package.sh`` after changing the library)."""

from __future__ import annotations

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_dist_zip_matches_library_sources():
    want = {p.relative_to(ROOT).as_posix(): p.read_bytes()
            for p in sorted(ROOT.glob("searchengine_spark/**/*.py"))}
    with zipfile.ZipFile(ROOT / "dist" / "searchengine_spark.zip") as z:
        got = {name: z.read(name) for name in z.namelist()}
    assert sorted(got) == sorted(want)
    stale = [name for name in want if got[name] != want[name]]
    assert not stale, f"stale in dist/searchengine_spark.zip: {stale}"
