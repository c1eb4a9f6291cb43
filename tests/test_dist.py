"""dist/engine.zip (the spark-submit --py-files bundle) is a tracked build
output: it must hold exactly the package sources, byte for byte.
Rebuild it with ``sh scripts/make_pyfiles.sh``."""

from __future__ import annotations

import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_engine_zip_matches_sources():
    sources = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in (ROOT / "tegenaria_spark").rglob("*.py")
        if "__pycache__" not in p.parts
    }
    with zipfile.ZipFile(ROOT / "dist" / "engine.zip") as z:
        shipped = {name: z.read(name) for name in z.namelist()}
    assert sorted(shipped) == sorted(sources), "stale dist/engine.zip: run scripts/make_pyfiles.sh"
    stale = [name for name in sources if shipped[name] != sources[name]]
    assert not stale, f"stale dist/engine.zip members {stale}: run scripts/make_pyfiles.sh"
