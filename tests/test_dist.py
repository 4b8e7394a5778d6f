"""The committed spark-submit artifact is the tested source:
``dist/nabu_spark.zip`` (built by scripts/build_dist.sh) holds exactly
``nabu_spark/**/*.py``. Members are compared, not zip bytes, because the
archive records file mtimes."""

from __future__ import annotations

import glob
import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dist_zip_members_equal_source():
    with zipfile.ZipFile(os.path.join(REPO, "dist", "nabu_spark.zip")) as z:
        shipped = {name: z.read(name) for name in z.namelist()}
    source = {}
    for path in glob.glob(os.path.join(REPO, "nabu_spark", "**", "*.py"), recursive=True):
        with open(path, "rb") as fh:
            source[os.path.relpath(path, REPO)] = fh.read()
    assert sorted(shipped) == sorted(source)
    stale = [name for name in source if shipped[name] != source[name]]
    assert stale == [], "rebuild with scripts/build_dist.sh"
