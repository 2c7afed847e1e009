"""The shipped zip (``dist/beeradvocate_crawler_spark.zip``, the
``spark-submit --py-files`` artifact) holds exactly the package's
``.py`` files, byte for byte.  Rebuild it with ``make dist`` after
editing the package."""

from __future__ import annotations

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ZIP = ROOT / "dist" / "beeradvocate_crawler_spark.zip"


def test_dist_zip_matches_the_package():
    pkg = ROOT / "beeradvocate_crawler_spark"
    want = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in pkg.rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(ZIP) as z:
        got = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    assert sorted(got) == sorted(want), "make dist: the zip's file set is stale"
    stale = sorted(n for n in want if got[n] != want[n])
    assert not stale, f"make dist: stale in the zip: {stale}"
